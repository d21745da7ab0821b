"""ABC (Pareto-class) analysis — rank items by revenue and classify
them by cumulative share: A = the head that carries the first 80% of
revenue, B = to 95%, C = the long tail (Dickie, "ABC inventory
analysis", 1951; the 80/20 operating rule every inventory/catalog/
corpus-curation team runs).

The engine piece is a DISTRIBUTED EXACT CUMULATIVE SUM over a ranked
frame without a global window: the same two-phase bucket scheme as
``bucketed_global_rank`` (value-bucketed local window + exclusive
prefix over per-bucket summaries + broadcast-size join back), extended
to carry the running revenue, not just the rank. Shares are exact
milli units (``cum_c * 1000 div total``), class thresholds at 800/950.

Scale shape (100 TB): one map-side-combinable ``groupBy(item)``
collapses line items; the ranked cumsum touches the item frame in
balanced value-buckets (thousands of partitions, never one); the
output is the 3-row class census. Revenue totals run in DECIMAL(38,0)
(HUGEINT in the twin) — cents x catalog size exceeds int64 exactly in
the regime ABC analysis targets.

No counterpart in the reference repo (analytics extension surface,
alongside ``pct_of_total`` / ``pareto_front`` / ``topk_parts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def cumulative_by_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    bucket_size: int = 1 << 20,
) -> DataFrame:
    """Input plus ``rnk`` (1-based, by ``value_col`` DESC, tiebreak
    asc) and ``cum_v`` (inclusive running sum of ``value_col`` in that
    order, DECIMAL(38,0)) — two-phase bucketed, no global window."""
    base = df.withColumn(
        "_bkt", F.expr(f"(-{value_col}) div {int(bucket_size)}")
    )
    w_local = Window.partitionBy("_bkt").orderBy(
        F.col(value_col).desc(), tiebreak_col
    )
    local = base.withColumn("_li", F.row_number().over(w_local)).withColumn(
        "_lcum",
        F.sum(F.col(value_col).cast("decimal(38,0)")).over(
            w_local.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_bucket = local.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("_bsum"),
    )
    w_prev = (
        Window.orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # per-bucket summary frame: n_buckets rows, bounded
    offsets = per_bucket.select(
        "_bkt",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_off"),
        F.coalesce(
            F.sum("_bsum").over(w_prev),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_voff"),
    )
    return (
        local.join(offsets, "_bkt")
        .withColumn("rnk", (F.col("_li") + F.col("_off")).cast("long"))
        .withColumn(
            "cum_v",
            (F.col("_lcum") + F.col("_voff")).cast("decimal(38,0)"),
        )
        .drop("_bkt", "_li", "_lcum", "_off", "_voff")
    )


def abc_classes(
    df: DataFrame,
    item_col: str,
    value_c_col: str,
    a_milli: int = 800,
    b_milli: int = 950,
) -> DataFrame:
    """``(abc_class, n_items, class_c, share_milli)`` census — an item
    is A while the share accumulated BEFORE it is under ``a_milli``
    (the crossing item belongs to the class it completes), B while
    under ``b_milli``, else C."""
    ranked = cumulative_by_rank(df, value_c_col, item_col)
    # grand total as a 1-row aggregate broadcast-cross-joined in — NOT
    # an unpartitioned window over the full item frame, which would
    # funnel every item row through one partition (ADVICE r9 item 3;
    # the shape_profile / decayed_activity pattern)
    tot = df.agg(
        F.sum(F.col(value_c_col).cast("decimal(38,0)")).alias("_total")
    )
    t = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "_excl_milli",
        F.expr(
            f"CAST((cum_v - {value_c_col}) * 1000 div _total AS BIGINT)"
        ),
    )
    classed = t.withColumn(
        "abc_class",
        F.when(F.col("_excl_milli") < F.lit(int(a_milli)), "A")
        .when(F.col("_excl_milli") < F.lit(int(b_milli)), "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(value_c_col).cast("long").alias("class_c"),
        )
        .withColumn(
            "share_milli",
            F.expr(
                "CAST(CAST(class_c AS DECIMAL(38,0)) * 1000 div "
                "CAST(sum(class_c) OVER () AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
        .orderBy("abc_class")
    )


def abc_classes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC census of parts by lineitem revenue (discounted extended
    price, exact cents)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("rev_c"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("rev_c").alias("rev_c")
    )
    return abc_classes(per_part, "l_partkey", "rev_c")


ABC_CLASSES_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT) AS rev_c
  FROM lineitem
),
per_part AS (
  SELECT l_partkey, CAST(sum(rev_c) AS BIGINT) AS rev_c
  FROM li GROUP BY 1
),
ranked AS (
  SELECT l_partkey, rev_c,
         CAST(sum(CAST(rev_c AS HUGEINT)) OVER (
             ORDER BY rev_c DESC, l_partkey
             ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum_v,
         CAST(sum(CAST(rev_c AS HUGEINT)) OVER () AS HUGEINT) AS total
  FROM per_part
),
classed AS (
  SELECT *,
         CASE WHEN CAST((cum_v - rev_c) * 1000 // total AS BIGINT)
                   < 800 THEN 'A'
              WHEN CAST((cum_v - rev_c) * 1000 // total AS BIGINT)
                   < 950 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(rev_c) AS BIGINT) AS class_c,
       CAST(CAST(sum(rev_c) AS HUGEINT) * 1000 //
            CAST(sum(sum(rev_c)) OVER () AS HUGEINT) AS BIGINT)
         AS share_milli
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""
