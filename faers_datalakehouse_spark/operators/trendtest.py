"""Cochran-Armitage trend test — is a binary outcome's rate MONOTONE in
an ordered exposure level? The 2xk contingency test with ordered
columns, the standard dose-response screen (completes the contingency
family: ``ab_test`` 2x2 proportions, ``odds_ratio`` 2x2 association,
``crosstab_chi2`` unordered r x c, this = ordered 2xk).

Integer-exact core, IEEE-deterministic tail (the family discipline):
per (group, dose) the operator needs only three conditional sums
(n_i, a_i = events, and the dose weights ride as query constants via
the dose VALUES), so the sufficient statistics N, R = sum a_i,
S1 = sum w_i n_i, S2 = sum w_i^2 n_i, T = sum w_i a_i are exact. The
z statistic

    z = (N*T - R*S1) / sqrt(R * (N - R) * (N*S2 - S1^2) / N)

multiplies N-scaled integers — DECIMAL(38,0) end-to-end (HUGEINT in
the twin; the r10 overflow-audit rule applied at birth), one fixed
IEEE tree at the end. NULL when R = 0, R = N, or the dose spread is
degenerate (``N*S2 = S1^2``).

Scale shape (100 TB): ONE map-side-combinable aggregate per group —
the dose dimension collapses into the weighted sums during the
partial aggregation; no contingency frame, no windows, no joins
beyond the dimension broadcast in the query.

No counterpart in the reference repo (statistics extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table


def cochran_armitage_by_group(
    df: DataFrame,
    group_col: str,
    dose_col: str,
    outcome_col: str,
) -> DataFrame:
    """``(group_col, n, r_events, z_milli)`` per group, ordered by
    group. ``dose_col`` must be a small integer score (the ordered
    exposure level); ``outcome_col`` must be 0/1."""
    w = F.col(dose_col).cast("decimal(38,0)")
    o = F.col(outcome_col)
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(o).cast("long").alias("r_events"),
        F.sum(w).cast("decimal(38,0)").alias("s1"),
        F.sum(w * F.col(dose_col)).cast("decimal(38,0)").alias("s2"),
        F.sum(w * o).cast("decimal(38,0)").alias("t"),
    )
    return (
        g.withColumn(
            "z_milli",
            F.expr(
                "CASE WHEN r_events > 0 AND r_events < n AND "
                "  CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
                "  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0 THEN "
                "CAST(floor("
                " (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)"
                "  - CAST(r_events AS DOUBLE) * CAST(s1 AS DOUBLE))"
                " * 1000.0 / "
                " sqrt(CAST(r_events AS DOUBLE) * (n - r_events)"
                "      * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
                "         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
                "      / CAST(n AS DOUBLE))) AS BIGINT) END"
            ),
        )
        .select(group_col, "n", "r_events", "z_milli")
        .orderBy(group_col)
    )


def cochran_armitage_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per market segment: does the probability of a big order
    (> $200k) trend with the order's priority level (1-URGENT ..
    5-LOW as the ordered dose)?"""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.substring("o_orderpriority", 1, 1).cast("long").alias("dose"),
        (F.col("o_totalprice") > 200000).cast("int").alias("big"),
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "dose", "big")
    return cochran_armitage_by_group(j, "c_mktsegment", "dose", "big")


COCHRAN_ARMITAGE_SQL = """
WITH j AS (
  SELECT c_mktsegment,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS dose,
         CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS big
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(big) AS BIGINT) AS r_events,
         CAST(sum(CAST(dose AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(dose AS HUGEINT) * dose) AS HUGEINT) AS s2,
         CAST(sum(CAST(dose AS HUGEINT) * big) AS HUGEINT) AS t
  FROM j GROUP BY 1
)
SELECT c_mktsegment, n, r_events,
       CASE WHEN r_events > 0 AND r_events < n AND
              CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0 THEN
         CAST(floor(
           (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)
            - CAST(r_events AS DOUBLE) * CAST(s1 AS DOUBLE))
           * 1000.0 /
           sqrt(CAST(r_events AS DOUBLE) * (n - r_events)
                * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / CAST(n AS DOUBLE))) AS BIGINT) END AS z_milli
FROM g
ORDER BY c_mktsegment
"""
