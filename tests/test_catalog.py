"""Catalog/sink helpers: partitioned append, latest-partition incremental
read, overwrite + ANALYZE, existence probe (S3-S10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.catalog import (
    ensure_schemas,
    read_latest_partition,
    table_exists,
    write_append_partitioned,
    write_overwrite,
)


def test_partitioned_append_and_latest_read(spark):
    ensure_schemas(spark)
    spark.sql("DROP TABLE IF EXISTS bronze.cat_demo")
    b1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]
    ).withColumn("_ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(3, "c")], ["id", "v"]
    ).withColumn("_ingest_ts", F.lit("2024-02-01 00:00:00").cast("timestamp"))
    write_append_partitioned(b1, "bronze.cat_demo", ["_ingest_ts"])
    write_append_partitioned(b2, "bronze.cat_demo", ["_ingest_ts"])

    assert spark.table("bronze.cat_demo").count() == 3
    latest = read_latest_partition(spark, "bronze.cat_demo")
    assert [r["id"] for r in latest.collect()] == [3]
    # the filter must prune to the one partition at plan level
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_ingest_ts" in plan


def test_overwrite_with_analyze_and_exists(spark):
    ensure_schemas(spark)
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    write_overwrite(df, "silver.cat_demo2", target_files=1, analyze=True)
    assert table_exists(spark, "silver.cat_demo2")
    assert not table_exists(spark, "silver.nope")
    assert spark.table("silver.cat_demo2").count() == 2
    # overwrite replaces, not appends
    write_overwrite(df, "silver.cat_demo2", target_files=1)
    assert spark.table("silver.cat_demo2").count() == 2
