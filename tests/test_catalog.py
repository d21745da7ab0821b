"""Catalog helpers: latest-partition incremental read over a
partitioned append (S3/S4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.catalog import (
    ensure_schemas,
    read_latest_partition,
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
    for b in (b1, b2):
        b.write.mode("append").partitionBy("_ingest_ts").saveAsTable(
            "bronze.cat_demo"
        )

    assert spark.table("bronze.cat_demo").count() == 3
    latest = read_latest_partition(spark, "bronze.cat_demo")
    assert [r["id"] for r in latest.collect()] == [3]
    # the filter must prune to the one partition at plan level
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_ingest_ts" in plan
