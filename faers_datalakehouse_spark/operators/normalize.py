"""Per-group percentile-rank normalization — map each row's value to its
within-group percentile, the standard way to make a heterogeneous signal
comparable across groups (per-source quality scores, per-language doc
lengths) before global thresholding or mixing.

``pct_micro = (rank - 1) * 1e6 div (n_group - 1)`` (the percent_rank
formula over exact integer ranks; single-row groups pin to 0) —
bit-identical in DuckDB.

Scale shape (100 TB): the textbook ``percent_rank() OVER (PARTITION BY
group ORDER BY value)`` puts each group in ONE task — with few groups
(20 sources, 5 segments) that is the bounded-cardinality-partition
failure the repo's plan audit flags. ``bucketed_global_rank`` composes
the same rank as a two-phase scan (the ``pareto_front`` /
``operators/gini.py`` shape):

1. per (group, value-bucket) window — thousands of balanced partitions;
2. exclusive prefix count over per-bucket summaries (a window over
   n_buckets rows, never the table) gives each bucket's rank offset and
   each group's total;
3. one broadcast-friendly join recombines: global rank = local rank +
   bucket offset.

No counterpart in the reference repo (analytics extension surface,
alongside ``quantile_binning`` / ``numeric_standardize``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


# Scanned-input bytes at which ``bucketed_global_rank`` checkpoints an
# aggregate input; see ``_auto_materialize``.
RANK_MATERIALIZE_BYTES = 8 * 1024**3


def _auto_materialize(df: DataFrame) -> bool:
    """Size-aware input materialization policy for the rank primitive
    (VERDICT r12 item 3). True when the input should be eagerly
    checkpointed before the two consumers (bucket counts + final join)
    re-derive it: its optimized plan re-runs an AGGREGATE over at least
    ``RANK_MATERIALIZE_BYTES`` of scanned input — that duplicated
    branch is a corpus pass at cluster scale — and it is not already
    materialized (checkpointed RDD / cached relation) or a plain scan
    (re-scanning parquet is the cheapest recompute; copying the corpus
    into a checkpoint to avoid it is a loss).

    The threshold is 8 GiB, a deliberate no-op at bench scale: the r12
    persist A/B measured the synchronous materialization barrier
    regressing every light consumer at sf0.1 (q127_theil_sen
    0.53 -> 3.44 s), and sf0.1 / the 5x scale probe scan ~1e8-1e9 B."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        tree = plan.treeString()
        if "LogicalRDD" in tree or "InMemoryRelation" in tree:
            return False  # caller already materialized a level
        if "Aggregate" not in tree:
            return False  # plain scan input: recompute IS the scan
        total = 0
        it = plan.collectLeaves().iterator()
        while it.hasNext():
            size = it.next().stats().sizeInBytes()
            # py4j maps scala BigInt to int when it fits; fall back to
            # the string form for the Long.MaxValue-ish defaults
            total += size if isinstance(size, int) else int(size.toString())
        return total >= RANK_MATERIALIZE_BYTES
    except Exception:  # noqa: BLE001 — introspection must never break the query
        return False


def bucketed_global_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_size: int = 64,
) -> DataFrame:
    """Input columns plus ``rnk`` (1-based global row_number within
    ``group_col`` ordered by (value, tiebreak)) and ``n_group`` — without
    ever forming a per-group global window."""
    if _auto_materialize(df):
        df = df.localCheckpoint(eager=True)
    base = df.withColumn(
        "_bkt", F.expr(f"{value_col} div {int(bucket_size)}")
    )
    w_local = Window.partitionBy(group_col, "_bkt").orderBy(
        value_col, tiebreak_col
    )
    local = base.withColumn("_li", F.row_number().over(w_local))
    per_bucket = local.groupBy(group_col, "_bkt").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_prev = (
        Window.partitionBy(group_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(group_col)
    offsets = per_bucket.select(
        group_col,
        "_bkt",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(w_grp).alias("n_group"),
    )
    return (
        local.join(offsets, [group_col, "_bkt"])
        .withColumn("rnk", (F.col("_li") + F.col("_off")).cast("long"))
        .drop("_bkt", "_li", "_off")
    )


def percentile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_size: int = 64,
) -> DataFrame:
    ranked = bucketed_global_rank(
        df, group_col, value_col, tiebreak_col, bucket_size
    )
    return ranked.withColumn(
        "pct_micro",
        F.when(F.col("n_group") > 1, F.expr("((rnk - 1) * 1000000) div (n_group - 1)"))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def percentile_normalize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents' length percentile within their source: the
    cross-source-comparable length signal."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return percentile_normalize(
        docs, "source", "n_chars", "doc_id"
    ).select("doc_id", "source", "n_chars", "rnk", "n_group", "pct_micro").orderBy(
        "doc_id"
    )


PERCENTILE_NORMALIZE_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_group
  FROM documents
)
SELECT doc_id, source, n_chars,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(n_group AS BIGINT) AS n_group,
       CAST(CASE WHEN n_group > 1
                 THEN ((rnk - 1) * 1000000) // (n_group - 1)
                 ELSE 0 END AS BIGINT) AS pct_micro
FROM ranked
ORDER BY doc_id
"""
