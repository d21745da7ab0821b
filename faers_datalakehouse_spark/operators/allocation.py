"""Neyman sample allocation with largest-remainder apportionment —
how many rows to draw from each stratum when budgeting an expensive
pass (human eval, LLM-judge scoring, manual QA) over a stratified
population. Neyman (1934): allocate ``n_h ∝ N_h * S_h`` (stratum size
times stratum standard deviation) — minimizes the variance of the
stratified mean for a fixed total budget n. Fractional quotas become
integers via Hamilton's largest-remainder method (house-seat
apportionment): floor every quota, then hand the leftover units to the
largest remainders — the only apportionment rule that never violates
quota.

Integer-exact: variance numerators are exact DECIMAL(38,0) moments;
``sd_milli`` is one fixed IEEE sqrt over them; weights, quotas,
remainders and the final allocation are exact BIGINT arithmetic
(``n * w div W``, ``n * w mod W``), with rank-by-remainder ties broken
by stratum key.

Scale shape (100 TB): ONE map-side-combinable ``groupBy(stratum)``
collapses the population to |strata| rows; every window after that
(total weight, remainder rank) runs over the strata frame — bounded by
the stratum domain, never by rows.

No counterpart in the reference repo (sampling extension surface,
alongside ``stratified_cap`` / ``priority_sample`` /
``systematic_sample``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_total: int,
) -> DataFrame:
    """``(stratum_col, n_rows, sd_milli, weight, quota_base, extra,
    alloc)`` per stratum — Neyman weights ``N_h * sd_milli_h``,
    Hamilton rounding so ``sum(alloc) == n_total`` exactly (when any
    stratum has positive weight). Single-row strata carry sd 0."""
    x = F.col(value_col)
    g = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).cast("long").alias("_sx"),
        F.sum(x.cast("decimal(38,0)") * x)
        .cast("decimal(38,0)")
        .alias("_sxx"),
    )
    g = g.withColumn(
        "_vnum",
        (
            F.col("n_rows") * F.col("_sxx")
            - F.col("_sx").cast("decimal(38,0)") * F.col("_sx")
        ).cast("decimal(38,0)"),
    ).withColumn(
        "sd_milli",
        F.expr(
            "CASE WHEN n_rows >= 2 THEN "
            "CAST(floor(1000.0 * sqrt(CAST(_vnum AS DOUBLE) / "
            "(CAST(n_rows AS DOUBLE) * (n_rows - 1)))) AS BIGINT) "
            "ELSE 0 END"
        ),
    )
    g = g.withColumn(
        "weight", (F.col("n_rows") * F.col("sd_milli")).cast("long")
    )
    w_all = Window.partitionBy()  # strata frame: |strata| rows, bounded
    g = g.withColumn("_W", F.sum("weight").over(w_all))
    n = int(n_total)
    g = g.withColumn(
        "quota_base",
        F.expr(
            f"CASE WHEN _W > 0 THEN CAST({n} * weight div _W "
            "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ),
    ).withColumn(
        "_rem",
        F.expr(
            f"CASE WHEN _W > 0 THEN CAST({n} * weight % _W "
            "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ),
    )
    g = g.withColumn(
        "_leftover",
        (F.lit(n) - F.sum("quota_base").over(w_all)).cast("long"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.col("_rem").desc(), F.col(stratum_col))
        ),
    )
    return (
        g.withColumn(
            "extra",
            F.when(
                (F.col("_W") > 0) & (F.col("_rk") <= F.col("_leftover")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            stratum_col,
            "n_rows",
            "sd_milli",
            "weight",
            "quota_base",
            "extra",
            (F.col("quota_base") + F.col("extra")).alias("alloc"),
        )
        .orderBy(stratum_col)
    )


def neyman_allocation_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Allocate a 1000-row audit budget across market segments,
    proportional to segment size x account-balance spread."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    return neyman_allocation(cust, "c_mktsegment", "bal_c", 1000)


NEYMAN_ALLOCATION_SQL = """
WITH g AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS sx,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                  * CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                         AS HUGEINT)) AS HUGEINT) AS sxx
  FROM customer GROUP BY 1
),
v AS (
  SELECT c_mktsegment, n_rows,
         CAST(n_rows * sxx - CAST(sx AS HUGEINT) * sx AS HUGEINT)
           AS vnum
  FROM g
),
s AS (
  SELECT c_mktsegment, n_rows,
         CASE WHEN n_rows >= 2 THEN
           CAST(floor(1000.0 * sqrt(CAST(vnum AS DOUBLE) /
                (CAST(n_rows AS DOUBLE) * (n_rows - 1)))) AS BIGINT)
         ELSE 0 END AS sd_milli
  FROM v
),
w AS (
  SELECT *, CAST(n_rows * sd_milli AS BIGINT) AS weight,
         CAST(sum(n_rows * sd_milli) OVER () AS BIGINT) AS tw
  FROM s
),
q AS (
  SELECT *,
         CASE WHEN tw > 0
              THEN CAST(1000 * weight // tw AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS quota_base,
         CASE WHEN tw > 0
              THEN CAST(1000 * weight % tw AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS rem
  FROM w
),
r AS (
  SELECT *,
         CAST(1000 - sum(quota_base) OVER () AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY rem DESC, c_mktsegment) AS rk
  FROM q
)
SELECT c_mktsegment, n_rows, sd_milli, weight, quota_base,
       CAST(CASE WHEN tw > 0 AND rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS extra,
       CAST(quota_base + CASE WHEN tw > 0 AND rk <= leftover
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r
ORDER BY c_mktsegment
"""
