"""Incrementally-maintained materialized aggregate views.

The reference recomputes its gold-layer report tables from scratch on
every pipeline run (reference ``src/gold/`` — each report is a full
groupBy over the fact table). At 100 TB a daily full recompute is the
dominant cost of the pipeline, yet each day's *delta* touches a tiny
fraction of the group space. This operator maintains a groupBy aggregate
**incrementally**: state lives as a parquet table hash-partitioned into
``n_buckets`` by group key, and a refresh

1. computes the batch's partial aggregates (one shuffle whose map-side
   combine reduces it to group-cardinality rows),
2. resolves which buckets those groups land in (≤ ``n_buckets`` ints of
   driver state),
3. reads ONLY those bucket partitions of the state (partition-pruned
   scan), merges, and
4. rewrites only those partitions (dynamic partition overwrite).

Maintenance cost is therefore proportional to the *delta's key
footprint*, never the accumulated state: a batch touching 3 of 64
buckets reads and writes ~5% of a state table of any size.

Supported aggregates are the self-mergeable ones — ``count``, ``sum``,
``min``, ``max`` — which are exact under append-only sources (the FAERS
quarterly-load shape). Derived measures
(averages, rates) belong at read time, computed from exact integer state
(the repo's cross-engine float rule).

Concurrency: single-writer, like the rest of the lakehouse layer
(``sources/versioned.py``). Dynamic partition overwrite replaces each
affected bucket directory atomically per-partition but not across
buckets; readers needing a cross-bucket-consistent snapshot should
point the state at a ``VersionedTable`` root and commit after refresh.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MERGE = {
    "count": F.sum,  # counts merge by summing
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


@dataclass
class IncrementalMatView:
    """A groupBy aggregate kept up to date batch-by-batch.

    ``measures`` maps output column -> ``(agg, source_expr)`` with ``agg``
    in ``{count, sum, min, max}``; ``source_expr`` is a SQL expression
    over the source columns (ignored for ``count``, which counts rows).
    """

    path: str
    group_keys: list[str]
    measures: dict[str, tuple[str, str]]
    n_buckets: int = 64

    def __post_init__(self):
        for out, (agg, _) in self.measures.items():
            if agg not in _MERGE:
                raise ValueError(
                    f"measure {out!r}: agg must be one of {sorted(_MERGE)}, "
                    f"got {agg!r} (derived measures like avg belong at read "
                    "time, computed from sum/count state)"
                )
        if "_bucket" in set(self.group_keys) | set(self.measures):
            raise ValueError(
                "column name '_bucket' is reserved by the view's internal "
                "state; rename the keys/measures"
            )

    # -- internals --------------------------------------------------------

    def _bucket_col(self) -> Column:
        return F.pmod(F.hash(*self.group_keys), F.lit(self.n_buckets)).cast(
            "int"
        )

    def _partials(self, batch: DataFrame) -> DataFrame:
        aggs = []
        for out, (agg, expr) in self.measures.items():
            if agg == "count":
                aggs.append(F.count(F.lit(1)).alias(out))
            else:
                aggs.append(_MERGE[agg](F.expr(expr)).alias(out))
        return (
            batch.groupBy(*self.group_keys)
            .agg(*aggs)
            .withColumn("_bucket", self._bucket_col())
        )

    def _merge(self, state: DataFrame) -> DataFrame:
        aggs = [
            _MERGE[agg](out).alias(out)
            for out, (agg, _) in self.measures.items()
        ]
        return state.groupBy("_bucket", *self.group_keys).agg(*aggs)

    def _exists(self, spark: SparkSession) -> bool:
        # Hadoop FS API, not pathlib: the state path may be object
        # storage / HDFS on a real deployment
        jpath = spark._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.exists(jpath)

    # -- public API -------------------------------------------------------

    def refresh(self, batch: DataFrame) -> dict:
        """Fold one source batch into the view. Returns
        ``{"buckets_touched", "buckets_total", "groups_in_batch"}``."""
        partials = self._partials(batch)
        spark = partials.sparkSession
        if not self._exists(spark):
            out = self._merge(partials)
            (
                out.repartition("_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(self.path)
            )
            return {
                "buckets_touched": out.select("_bucket").distinct().count(),
                "buckets_total": self.n_buckets,
                "groups_in_batch": None,
            }
        affected = sorted(
            r["_bucket"]
            for r in partials.select("_bucket").distinct().collect()
        )
        if not affected:
            return {
                "buckets_touched": 0,
                "buckets_total": self.n_buckets,
                "groups_in_batch": 0,
            }
        old = spark.read.parquet(self.path).filter(
            F.col("_bucket").isin(affected)  # partition-pruned scan
        )
        merged = self._merge(old.unionByName(partials))
        (
            merged.repartition("_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self.path)
        )
        return {
            "buckets_touched": len(affected),
            "buckets_total": self.n_buckets,
            "groups_in_batch": None,
        }

    def read(self, spark: SparkSession) -> DataFrame:
        """The current view: group keys + measure columns (no bucket)."""
        return spark.read.parquet(self.path).select(
            *self.group_keys, *self.measures.keys()
        )

    def optimize(self, spark: SparkSession) -> dict:
        """Compact fragmented bucket partitions: every refresh appends
        new files to the buckets it touches (dynamic overwrite replaces
        the partition's CONTENT but writes it as `repartition` sized it),
        and hot buckets accumulate small files over many refreshes. This
        rewrites each bucket as one file — state stays tiny relative to
        its source, so one-file-per-bucket is the right target. Returns
        ``{"files_before", "files_after"}``."""
        def n_files():
            # inputFiles(), not local pathlib: the state path may be
            # object storage / HDFS (same reason _exists uses Hadoop FS)
            return len(spark.read.parquet(self.path).inputFiles())

        before = n_files()
        state = spark.read.parquet(self.path)
        (
            state.repartition(self.n_buckets, "_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self.path)
        )
        return {"files_before": before, "files_after": n_files()}
