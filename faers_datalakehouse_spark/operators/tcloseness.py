"""t-closeness audit — the third rung of the anonymity ladder after
k-anonymity and l-diversity (Li, Li & Venkatasubramanian, "t-closeness:
privacy beyond k-anonymity and l-diversity", ICDE 2007): an equivalence
class leaks skew information when its SENSITIVE-value distribution sits
far from the table-wide distribution, even if it is diverse. For an
ORDERED sensitive attribute the paper's distance is the Earth Mover's
Distance, which over m ordered values reduces to

    EMD = (1 / (m-1)) * SUM over i < m of |CumP_class(i) - CumP_global(i)|

Exact integer core: cumulative counts are cross-multiplied
(``|cum_c * N - cum_g * n|``) so no ratio is ever formed; the ppm result
is one integer division at the end. Counts are promoted to
DECIMAL(38,0) before the cross-product — ``n * N`` alone overflows
int64 past ~10^9 rows, exactly the regime this audit targets.

Scale shape (100 TB): one map-side-combinable ``groupBy(quasi,
sensitive)`` collapses the table to cell counts; everything after runs
on the dense |quasi| x |m| grid (a broadcast cross join of two
aggregate outputs — domain-sized, never row-sized). Windows partition
by class over m rows. Output is class-count-sized.

No counterpart in the reference repo (privacy extension surface,
alongside ``k_anonymity_audit`` / ``l_diversity`` / ``k_suppress``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t_ppm: int = 150_000,
) -> DataFrame:
    """``(quasi..., n, m, emd_ppm, close)`` per equivalence class —
    ordered-attribute EMD to the global distribution in exact ppm,
    ``close = emd_ppm <= t_ppm``. ``sensitive_col`` must be orderable;
    classes and grid are domain-sized."""
    if not quasi_cols:
        raise ValueError("t_closeness_audit needs at least one quasi column")
    qc = [F.col(c) for c in quasi_cols]
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("_c").cast("long").alias("n")
    )
    glob = cells.groupBy(sensitive_col).agg(
        F.sum("_c").cast("long").alias("_g")
    )
    # dense (class x sensitive-value) grid: both sides are aggregate
    # outputs (domain-sized), so the cross join is bounded by design
    grid = classes.crossJoin(F.broadcast(glob)).join(
        cells, [*quasi_cols, sensitive_col], "left"
    )
    grid = grid.withColumn("_c", F.coalesce(F.col("_c"), F.lit(0)))
    w_cum = (
        Window.partitionBy(*quasi_cols)
        .orderBy(sensitive_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*quasi_cols)
    cum = grid.select(
        *qc,
        "n",
        F.sum("_c").over(w_cum).alias("_cum_c"),
        F.sum("_g").over(w_cum).alias("_cum_g"),
        F.sum(F.lit(1)).over(w_all).alias("m"),
        F.row_number()
        .over(
            Window.partitionBy(*quasi_cols).orderBy(sensitive_col)
        )
        .alias("_i"),
        F.sum("_g").over(w_all).alias("_N"),
    ).where(F.col("_i") < F.col("m"))
    per_class = cum.groupBy(*quasi_cols, "n", "m", "_N").agg(
        F.sum(
            F.abs(
                F.col("_cum_c").cast("decimal(38,0)") * F.col("_N")
                - F.col("_cum_g").cast("decimal(38,0)") * F.col("n")
            )
        )
        .cast("decimal(38,0)")
        .alias("_sdiff")
    )
    return (
        per_class.select(
            *qc,
            "n",
            F.col("m").cast("long").alias("m"),
            F.expr(
                "CAST(_sdiff * 1000000 div "
                "(CAST(m - 1 AS DECIMAL(38,0)) * n * _N) AS BIGINT)"
            ).alias("emd_ppm"),
        )
        .withColumn("close", F.col("emd_ppm") <= F.lit(int(t_ppm)))
        .orderBy(*quasi_cols)
    )


def t_closeness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: how far does the order-priority distribution
    sit from the global one (priority rank 1-5 as the ordered sensitive
    attribute)?"""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.substring("o_orderpriority", 1, 1)
        .cast("long")
        .alias("prio_rank"),
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "prio_rank")
    return t_closeness_audit(j, ["c_mktsegment"], "prio_rank")


T_CLOSENESS_SQL = """
WITH j AS (
  SELECT c_mktsegment,
         CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_rank
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cells AS (
  SELECT c_mktsegment, prio_rank, count(*) AS _c
  FROM j GROUP BY 1, 2
),
classes AS (
  SELECT c_mktsegment, CAST(sum(_c) AS BIGINT) AS n
  FROM cells GROUP BY 1
),
gmarg AS (
  SELECT prio_rank, CAST(sum(_c) AS BIGINT) AS _g
  FROM cells GROUP BY 1
),
grid AS (
  SELECT cl.c_mktsegment, cl.n, g.prio_rank, g._g,
         COALESCE(ce._c, 0) AS _c
  FROM classes cl CROSS JOIN gmarg g
  LEFT JOIN cells ce
    ON ce.c_mktsegment = cl.c_mktsegment
   AND ce.prio_rank = g.prio_rank
),
cum AS (
  SELECT c_mktsegment, n,
         sum(_c) OVER w AS _cum_c,
         sum(_g) OVER w AS _cum_g,
         count(*) OVER (PARTITION BY c_mktsegment) AS m,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY prio_rank) AS _i,
         sum(_g) OVER (PARTITION BY c_mktsegment) AS _N
  FROM grid
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY prio_rank
               ROWS UNBOUNDED PRECEDING)
),
per_class AS (
  SELECT c_mktsegment, n, m, _N,
         CAST(sum(abs(CAST(_cum_c AS HUGEINT) * _N
                      - CAST(_cum_g AS HUGEINT) * n))
              AS HUGEINT) AS _sdiff
  FROM cum WHERE _i < m
  GROUP BY 1, 2, 3, 4
)
SELECT c_mktsegment, n, CAST(m AS BIGINT) AS m,
       CAST(_sdiff * 1000000 //
            (CAST(m - 1 AS HUGEINT) * n * _N) AS BIGINT)
         AS emd_ppm,
       CAST(_sdiff * 1000000 //
            (CAST(m - 1 AS HUGEINT) * n * _N) AS BIGINT)
         <= 150000 AS close
FROM per_class
ORDER BY c_mktsegment
"""
