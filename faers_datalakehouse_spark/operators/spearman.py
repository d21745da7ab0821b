"""Per-group Spearman rank correlation — the robust (outlier- and
monotone-transform-invariant) association measure between two measures,
computed with tie-averaged ranks (Spearman 1904; the Pearson-on-ranks
formulation, which is the correct one under ties).

Integer-exact core, deterministic tail: ranks are kept as DOUBLED
average ranks (``2*min_rank + tie_count - 1`` — always an integer, no
halves), and the Pearson numerator/denominators on those doubled ranks
are exact moment sums (the shared factor 4 cancels in the ratio). The
final ``rho_milli`` is ``floor(vxy * 1000 / sqrt(vxx * vyy))`` over
those exact integers — ``*``, ``/`` and ``sqrt`` are IEEE-754
correctly-rounded operations (identical bit results in Spark's JVM and
DuckDB), unlike libm transcendentals, so the milli value is
cross-engine exact. Moment sums are n³-scaled and the variance
numerators ``n*sxx - sx^2`` are **n⁴/3-scaled**, so the whole chain
runs in DECIMAL(38,0) (HUGEINT in the twin) and nothing n-scaled is
ever narrowed to BIGINT: the r10 overflow audit (ADVICE r9) removed
the raw-moment diagnostic output columns, whose BIGINT narrowing
raised CAST_OVERFLOW under ANSI at ~72k rows/group. Output is
``(group, n, rho_milli)`` — rho is bounded, n is a plain count.

Scale shape (100 TB): ranks come from ``bucketed_global_rank``
(``operators/normalize.py``) — the two-phase bucketed scan — so no
per-group global window ever forms; tie stats are one (group, value)
aggregate + an equi-join back; the moments are a single
map-side-combinable groupBy whose output is group-count-sized.

No counterpart in the reference repo (statistics extension surface,
alongside ``ab_test`` / ``crosstab_chi2`` / ``group_ols_trend``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.normalize import bucketed_global_rank
from faers_datalakehouse_spark.sources.tables import read_table


def _tie_avg_rank2(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    out_col: str,
) -> DataFrame:
    """Input plus ``out_col`` = doubled tie-averaged rank of ``value_col``
    within ``group_col``: ``2*min_rank + tie_count - 1``."""
    ranked = bucketed_global_rank(df, group_col, value_col, tiebreak_col)
    ties = ranked.groupBy(group_col, value_col).agg(
        F.min("rnk").alias("_minr"), F.count(F.lit(1)).alias("_tc")
    )
    return (
        ranked.join(ties, [group_col, value_col])
        .withColumn(
            out_col,
            (2 * F.col("_minr") + F.col("_tc") - 1).cast("long"),
        )
        .drop("_minr", "_tc", "rnk", "n_group")
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """``(group_col, n, rho_milli)`` per group, ordered by group — the
    IEEE-deterministic milli correlation over exact decimal moments of
    doubled tie-averaged ranks (NULL when either variance is zero or
    ``n < 2``)."""
    rx = _tie_avg_rank2(df, group_col, x_col, tiebreak_col, "rx2")
    # Caller-side materialization between the two rank levels (r12, guide
    # §3.3/§5): the y-rank level references rx ~4x (bucketed_global_rank
    # consumes its input twice, the tie join twice more), and unchecked
    # that re-derives the WHOLE x-rank subtree — and the upstream join/agg
    # feeding it — per reference (64 scans / 136 exchanges in the before
    # plan). The checkpoint truncates lineage at the group-count-sized rank
    # frame. Deliberately here and NOT inside bucketed_global_rank: the
    # light single-level consumers (theil_sen, gumbel_fit, record_days)
    # measurably regressed when the shared primitive materialized (persist
    # A/B, OPTIMIZATION_r12.md); only the nested-rank caller wins.
    rxy = _tie_avg_rank2(
        rx.localCheckpoint(eager=True), group_col, y_col, tiebreak_col, "ry2"
    )
    # n^3-scaled moments overflow int64 past ~2M rows/group (the r9
    # overflow audit after the gini 5x-probe failure): sums and cross
    # products run in DECIMAL(38,0) (HUGEINT in the twin)
    m = rxy.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(rx2 AS DECIMAL(38,0)) * ry2")).alias("_sxy"),
        F.sum("rx2").cast("decimal(38,0)").alias("_sx"),
        F.sum("ry2").cast("decimal(38,0)").alias("_sy"),
        F.sum(F.expr("CAST(rx2 AS DECIMAL(38,0)) * rx2")).alias("_sxx"),
        F.sum(F.expr("CAST(ry2 AS DECIMAL(38,0)) * ry2")).alias("_syy"),
    )
    # rho derives from the DECIMAL intermediates (scale-safe). The raw
    # variance numerators are ~n^4/3-scaled and are deliberately NOT
    # emitted: narrowing them to BIGINT overflows at ~72k rows/group
    # (ANSI CAST_OVERFLOW), and DECIMAL(38,0) outputs cannot survive
    # the driver's typed hash (DuckDB's pandas bridge degrades them to
    # float64). ADVICE r9 item 1.
    v = m.select(
        group_col,
        "n",
        (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        .cast("decimal(38,0)")
        .alias("_vxy"),
        (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        .cast("decimal(38,0)")
        .alias("_vxx"),
        (F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy"))
        .cast("decimal(38,0)")
        .alias("_vyy"),
    )
    return (
        v.select(
            group_col,
            "n",
            F.when(
                (F.col("_vxx") > 0) & (F.col("_vyy") > 0),
                F.floor(
                    (F.col("_vxy").cast("double") * F.lit(1000.0))
                    / F.sqrt(
                        F.col("_vxx").cast("double")
                        * F.col("_vyy").cast("double")
                    )
                ).cast("long"),
            ).alias("rho_milli"),
        )
        .orderBy(group_col)
    )


def spearman_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation rank correlation between a customer's account balance
    and their total order spend (customers with >= 1 order)."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_c"
        )
    )
    j = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
        F.col("spend_c").alias("y"),
        F.col("c_custkey").alias("tb"),
    )
    return spearman_by_group(j, "nationkey", "x", "y", "tb")


SPEARMAN_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT c_nationkey AS nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS x,
         spend_c AS y
  FROM customer JOIN spend ON c_custkey = o_custkey
),
r AS (
  SELECT nationkey,
         2 * rank() OVER (PARTITION BY nationkey ORDER BY x)
           + count(*) OVER (PARTITION BY nationkey, x) - 1 AS rx2,
         2 * rank() OVER (PARTITION BY nationkey ORDER BY y)
           + count(*) OVER (PARTITION BY nationkey, y) - 1 AS ry2
  FROM j
),
m AS (
  SELECT nationkey, count(*) AS n,
         CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy_,
         CAST(sum(rx2) AS HUGEINT) AS sx,
         CAST(sum(ry2) AS HUGEINT) AS sy,
         CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx_,
         CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy_
  FROM r GROUP BY nationkey
)
SELECT nationkey,
       CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx_ - sx * sx > 0 AND n * syy_ - sy * sy > 0
            THEN CAST(floor(
                   (CAST(n * sxy_ - sx * sy AS DOUBLE) * 1000.0)
                   / sqrt(CAST(n * sxx_ - sx * sx AS DOUBLE)
                          * CAST(n * syy_ - sy * sy AS DOUBLE))
                 ) AS BIGINT)
       END AS rho_milli
FROM m
ORDER BY nationkey
"""
