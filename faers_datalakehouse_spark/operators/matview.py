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
quarterly-load shape; for retractions, pair with
``sources.versioned.VersionedTable.changes`` and feed deletes as negated
counts/sums — min/max are then only monotone-safe). Derived measures
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
        clash = {"_bucket", "_sign"} & (
            set(self.group_keys) | set(self.measures)
        )
        if clash:
            raise ValueError(
                f"column names {sorted(clash)} are reserved by the view's "
                "internal state; rename the keys/measures"
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
        return self._fold(self._partials(batch))

    def refresh_changes(self, cdf: DataFrame) -> dict:
        """Fold a change feed (``sources.versioned.VersionedTable.changes``
        output: table columns + ``change_type`` in insert/delete) into the
        view — incremental maintenance under DELETEs, not just appends.

        Deletes retract: counts fold as -1, sums as the negated measure.
        ``min``/``max`` are NOT retractable (removing the current extreme
        would need the runner-up, which the state doesn't keep), so this
        raises if the view declares them — recompute those views, or keep
        their sources append-only."""
        bad = [o for o, (a, _) in self.measures.items() if a in ("min", "max")]
        if bad:
            raise ValueError(
                f"measures {bad} use min/max, which cannot be maintained "
                "under deletes; refresh_changes supports count/sum only"
            )
        if not any(a == "count" for a, _ in self.measures.values()):
            raise ValueError(
                "refresh_changes needs a count measure: fully-retracted "
                "groups are kept as zero-count tombstones in state (so "
                "their bucket still rewrites under dynamic partition "
                "overwrite) and filtered out at read()"
            )
        # fail loudly on unexpected change_type values (e.g. Delta CDF's
        # update_preimage/update_postimage, or a typo) — mapping "not
        # delete" to +1 would silently count them as inserts
        sign = (
            F.when(F.col("change_type") == "delete", F.lit(-1))
            .when(F.col("change_type") == "insert", F.lit(1))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "refresh_changes: unsupported change_type '"
                        ),
                        F.col("change_type"),
                        F.lit("' (expected insert/delete)"),
                    )
                ).cast("int")
            )
        )
        signed = cdf.withColumn("_sign", sign)
        aggs = []
        for out, (agg, expr) in self.measures.items():
            src = F.lit(1) if agg == "count" else F.expr(expr)
            aggs.append(F.sum(src * F.col("_sign")).alias(out))
        partials = (
            signed.groupBy(*self.group_keys)
            .agg(*aggs)
            .withColumn("_bucket", self._bucket_col())
        )
        return self._fold(partials)

    def _fold(self, partials: DataFrame) -> dict:
        """Merge partial-aggregate rows into the bucket-partitioned state
        (shared by refresh and refresh_changes). Fully-retracted groups
        stay as zero-count tombstone rows: writing them keeps their
        bucket in the dynamic-overwrite output (an empty bucket would be
        silently left stale), and ``read()`` filters them out."""
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
        """The current view: group keys + measure columns (no bucket).
        Zero-count tombstones (groups fully retracted by
        ``refresh_changes``) are filtered out."""
        df = spark.read.parquet(self.path)
        count_cols = [
            o for o, (a, _) in self.measures.items() if a == "count"
        ]
        if count_cols:
            df = df.filter(F.col(count_cols[0]) > 0)
        return df.select(*self.group_keys, *self.measures.keys())

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
