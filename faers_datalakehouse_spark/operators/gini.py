"""Gini concentration coefficient per group — the inequality measure for
"how concentrated is spend/volume over customers" (Gini 1912; standard in
marketplace-health and corpus-source-balance dashboards; for a training
corpus it answers "is one source dominating the token budget?").

For values x_1 <= ... <= x_n (non-negative) with total S:

    G = (2 * SUM(i * x_i) - (n + 1) * S) / (n * S)

Integer-exact: x in cents, ranks are exact integers, and the output is
``gini_micro = (1e6 * (2*SUM(i*x_i) - (n+1)*S)) div (n*S)`` — one integer
division over exact integers, bit-identical in DuckDB.

Scale shape (100 TB): the textbook formulation ranks every row inside a
per-group window — with a handful of groups (market segments, corpus
sources) that is 5 giant partitions, one task each: the exact
bounded-cardinality-partition failure this repo's plan audit exists to
catch. Instead the rank is composed as a **bucketed two-phase scan**
(the ``pareto_front`` / ``operators.sampling.prefix_sum`` shape):

1. bucket each row by value cell ``x div bucket_size`` — the within-
   (group, bucket) window partitions by (group, bucket), thousands of
   balanced partitions, each a narrow value slice;
2. per (group, bucket), one pass yields the *local* rank-weighted sum
   ``SUM(local_i * x_i)``, row count, and value sum;
3. an exclusive prefix sum of counts over the per-bucket summaries — a
   window over n_buckets rows (KBs), never the table — gives each
   bucket's global rank offset, and ``SUM(i*x_i) = SUM(local_i*x_i) +
   offset_bkt * sum_x_bkt`` recombines exactly;
4. the final per-group combine is a |groups|-row aggregate.

The DuckDB twin runs the mathematically identical single-window SQL.

Arithmetic domain: everything is int64; the tightest product is
``n * S`` (rows x total cents per group), exact below 2^63. Past that
(~1e9 rows x $1e8 per group) promote the combine to decimal(38,0) —
the shape is unchanged.

No counterpart in the reference repo (analytics extension surface,
alongside ``pct_of_total`` / ``pareto_front``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    tiebreak_col: str,
    bucket_size: int = 1 << 20,
) -> DataFrame:
    """Per-group Gini over non-negative integer-cent values:
    ``(group, n, total_cents, gini_micro)``, ordered by group.

    ``tiebreak_col`` makes the rank order total (equal values rank by
    it); SUM(i*x_i) is invariant to how ties are broken — equal x
    contribute the same regardless of order — so the tiebreak only
    pins determinism of the intermediate, not the result.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        value_cents.cast("long").alias("x"),
        F.col(tiebreak_col).alias("tb"),
    ).withColumn("_bkt", F.expr("x div " + str(int(bucket_size))))

    w_local = Window.partitionBy("grp", "_bkt").orderBy("x", "tb")
    local = base.select(
        "grp",
        "_bkt",
        "x",
        F.row_number().over(w_local).alias("_li"),
    )
    # rank-weighted sums are n*x-scaled: they overflow int64 well below
    # real corpus sizes (the 5x scale probe caught exactly this), so the
    # moment chain runs in DECIMAL(38,0) — exact, and the twin mirrors
    # it with HUGEINT
    per_bucket = local.groupBy("grp", "_bkt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("_li").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("_slix"),
    )
    # exclusive prefix sum of counts across buckets WITHIN each group:
    # a window over the per-(group,bucket) summary rows (n_buckets per
    # group, KBs), never the table
    w_prev = (
        Window.partitionBy("grp")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_bucket.select(
        "grp",
        "_bkt",
        "_cnt",
        "_sx",
        "_slix",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_off"),
    )
    return (
        offs.groupBy("grp")
        .agg(
            F.sum("_cnt").alias("n"),
            F.sum("_sx").alias("total_cents"),
            F.sum(
                F.col("_slix")
                + F.col("_off").cast("decimal(38,0)") * F.col("_sx")
            )
            .cast("decimal(38,0)")
            .alias("_six"),
        )
        .where(F.col("total_cents") > 0)
        .select(
            F.col("grp").alias(group_col),
            "n",
            "total_cents",
            F.expr(
                "CAST((1000000 * (2 * _six"
                " - (n + 1) * CAST(total_cents AS DECIMAL(38,0))))"
                " div (CAST(n AS DECIMAL(38,0)) * total_cents)"
                " AS BIGINT)"
            ).alias("gini_micro"),
        )
        .orderBy(group_col)
    )


def gini_segment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend concentration per market segment: customer lifetime spend
    (sum of order totals, cents) ranked within segment. Customers with
    no orders count as x=0 rows (they widen inequality — the honest
    denominator), via a left join defaulting to 0."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_c")
    )
    per_cust = customer.join(
        spend, customer.c_custkey == spend.o_custkey, "left"
    ).select(
        "c_mktsegment",
        "c_custkey",
        F.coalesce(F.col("spend_c"), F.lit(0)).alias("spend_c"),
    )
    return gini_by_group(
        per_cust,
        group_col="c_mktsegment",
        value_cents=F.col("spend_c"),
        tiebreak_col="c_custkey",
    )


GINI_SEGMENT_SQL = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
  FROM orders
  GROUP BY o_custkey
), per_cust AS (
  SELECT c.c_mktsegment, c.c_custkey,
         COALESCE(s.spend_c, 0) AS x
  FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
), ranked AS (
  SELECT c_mktsegment, x,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY x, c_custkey) AS i
  FROM per_cust
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS total_cents,
       CAST((1000000 * (2 * sum(CAST(i AS HUGEINT) * x)
             - (count(*) + 1) * CAST(sum(x) AS HUGEINT)))
         // (CAST(count(*) AS HUGEINT) * sum(x)) AS BIGINT)
         AS gini_micro
FROM ranked
GROUP BY c_mktsegment
HAVING sum(x) > 0
ORDER BY c_mktsegment
"""
