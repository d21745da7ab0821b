"""Table maintenance: small-file compaction (the OSS ``OPTIMIZE`` analog).

The reference calls Databricks ``OPTIMIZE`` after every write
(reference ``src/silver/silver_demographics.py:93``,
``src/gold/dims/dim_drug.py:193``) — bin-packing small files into
~target-size files so later scans open fewer files. OSS Spark on plain
parquet has no transaction log, so file-level surgical rewrites can't be
atomic; the honest equivalent is **partition-granularity** compaction:

- inventory the table's data files per partition from the hidden
  ``_metadata`` column (``file_path``/``file_size`` — a metadata-only
  projection, no data columns read);
- pick only the partitions whose file count exceeds what
  ``target_file_bytes`` implies for their data volume;
- rewrite *just those partitions*, each with an ``INSERT OVERWRITE``
  under a fully static partition spec, repartitioned to the target file
  count. Already-compact partitions are not rewritten and keep
  their physical files byte-identical.

Unpartitioned tables compact as a single "partition" (full rewrite, but
only when fragmented). On Delta/Iceberg the same call maps to the native
``OPTIMIZE``/``rewrite_data_files`` — this module is the plain-parquet
fallback, and its non-transactional window (a reader listing files mid-
rewrite can see a partial partition) is the documented cost of not having
a table format; see ARCHITECTURE.md's Delta note.

Scale notes: the file inventory is one distinct over (partition cols,
file_path, file_size) — shuffle size = number of files, not rows. Each
fragmented partition rewrite shuffles only that partition's rows, and
``repartition(n)`` (not ``coalesce``) is used so the write parallelizes
across the cluster before landing in exactly ``n`` files.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.transforms import sql_literal


def file_inventory(spark: SparkSession, table: str):
    """Per-file (partition-values, path, size) for a file-backed table.

    Metadata-only: projects the hidden ``_metadata`` struct plus partition
    columns, so the parquet reader never materializes data pages.
    """
    part_cols = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    df = spark.table(table).select(
        *part_cols,
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.file_size").alias("file_size"),
    )
    return df.distinct(), part_cols


def compact_table(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    analyze: bool = True,
) -> dict:
    """Bin-pack fragmented partitions of ``table`` toward
    ``target_file_bytes`` per file. Returns a stats dict:
    ``{"partitions_compacted", "files_before", "files_after"}``.

    A partition is fragmented when its file count exceeds
    ``ceil(partition_bytes / target_file_bytes)`` — i.e. the same data
    could live in fewer target-size files. Compact partitions are left
    physically untouched (verified by tests via ``_metadata.file_path``).
    """
    inv, part_cols = file_inventory(spark, table)
    # partition values as Spark renders them: a collected timestamp
    # would come back converted to the Python process's zone
    per_part = (
        inv.groupBy(*(F.col(c).cast("string").alias(c) for c in part_cols))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_size").alias("bytes"),
        )
        .collect()
    )
    # driver-side loop over PARTITIONS (bounded metadata, not rows)
    fragmented = []
    files_before = 0
    for r in per_part:
        files_before += r["n_files"]
        if not r["bytes"]:  # zero-file group: SUM() is NULL, nothing to do
            continue
        n_target = max(1, math.ceil(r["bytes"] / target_file_bytes))
        if r["n_files"] > n_target:
            fragmented.append((r, n_target))

    if not fragmented:
        return {
            "partitions_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
        }

    data_cols = ", ".join(
        f"`{c}`" for c in spark.table(table).columns if c not in part_cols
    )
    for r, n_target in fragmented:
        rows = spark.table(table)
        for c in part_cols:
            # null-safe: a partition value can legitimately be NULL
            rows = rows.filter(F.col(c).cast("string").eqNullSafe(r[c]))
        # localCheckpoint before the overwrite: (a) Spark refuses plans
        # that read and overwrite the same table, so the lineage must be
        # cut to an RDD scan first; (b) it pins the partition's rows
        # before its files are replaced. Partition-sized state, not
        # table-sized; a cluster deployment with executor loss risk would
        # use a reliable checkpoint dir instead.
        rows = rows.repartition(n_target).localCheckpoint()
        if not part_cols:
            rows.write.mode("overwrite").insertInto(table)
            continue
        # a fully static partition spec replaces exactly this partition
        # whatever partitionOverwriteMode the session holds
        spec = ", ".join(
            f"`{c}` = " + ("NULL" if r[c] is None else sql_literal(r[c]))
            for c in part_cols
        )
        spark.sql(
            f"INSERT OVERWRITE TABLE {table} PARTITION ({spec}) "
            f"SELECT {data_cols} FROM {{rows}}",
            rows=rows,
        )

    if analyze:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")

    inv_after, _ = file_inventory(spark, table)
    files_after = inv_after.count()
    return {
        "partitions_compacted": len(fragmented),
        "files_before": files_before,
        "files_after": files_after,
    }
