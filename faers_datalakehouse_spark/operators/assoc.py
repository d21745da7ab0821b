"""Theil's uncertainty coefficient U(x|y) — the ASYMMETRIC categorical
association measure ("how much does knowing y reduce uncertainty about
x?"), the directional complement to ``mutual_information``'s symmetric
bits and ``crosstab_chi2``'s significance test. Standard feature-
selection / leakage-screening tool: U near 1 flags a column pair where
one field is (nearly) a function of the other — a join-key leak or a
redundant feature.

Integer-exact cross-engine (the ``source_entropy`` bit-length idiom):

    H(x)   numerator = sum_x  c_x  * (bits(n)   - bits(c_x))
    H(x|y) numerator = sum_xy c_xy * (bits(c_y) - bits(c_xy))
    U(x|y) = (H(x) - H(x|y)) / H(x)

with ``bits(v) = floor(log2(v))`` exact in both engines; the headline
``u_milli`` is one integer division of the exact numerators, clamped at
0 (the floor approximation can dip a few bits below zero near true
independence; true MI cannot, so the clamp loses nothing). Within
1 bit/row of the real entropies — ranking-grade, like the rest of the
bits family. All bit-length arguments are plain counts (≤ n), so no
product ever forms — the class the r10 overflow audit fixed in
``mutual_information`` cannot arise here.

Scale shape (100 TB): one map-side-combinable ``groupBy(x, y)``
collapses the table to its contingency cells; marginals are aggregates
OF that cell frame broadcast back; output is one row.

No counterpart in the reference repo (statistics extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.entropy import _bits
from faers_datalakehouse_spark.sources.tables import read_table


def theils_u(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One row: ``(n, n_x, n_y, hx_bits_num, hxy_bits_num, u_milli)``
    where ``u_milli = 1000 * max(hx - hxy, 0) div hx`` (NULL when x is
    constant, i.e. ``hx_bits_num = 0``)."""
    cells = df.groupBy(x_col, y_col).agg(
        F.count(F.lit(1)).alias("_cxy")
    )
    mx = cells.groupBy(x_col).agg(F.sum("_cxy").alias("_cx"))
    my = cells.groupBy(y_col).agg(F.sum("_cxy").alias("_cy"))
    tot = cells.agg(F.sum("_cxy").cast("long").alias("_n"))
    j = (
        cells.join(F.broadcast(my), y_col)
        .crossJoin(F.broadcast(tot))
        .select(
            x_col,
            y_col,
            "_n",
            (F.col("_cxy") * (_bits(F.col("_cy")) - _bits(F.col("_cxy"))))
            .alias("_hxy_term"),
        )
    )
    hxy = j.agg(
        F.max("_n").alias("n"),
        F.count_distinct(y_col).cast("long").alias("n_y"),
        F.sum("_hxy_term").cast("long").alias("hxy_bits_num"),
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.count_distinct(x_col).cast("long").alias("n_x"),
        F.sum(
            F.col("_cx") * (_bits(F.col("_n")) - _bits(F.col("_cx")))
        )
        .cast("long")
        .alias("hx_bits_num"),
    )
    return (
        hxy.crossJoin(F.broadcast(hx))
        .select(
            "n",
            "n_x",
            "n_y",
            "hx_bits_num",
            "hxy_bits_num",
            F.expr(
                "CASE WHEN hx_bits_num > 0 THEN "
                "(1000 * greatest(hx_bits_num - hxy_bits_num, 0))"
                " div hx_bits_num END"
            ).alias("u_milli"),
        )
    )


def theils_u_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U(priority | segment): does a customer's market segment predict
    the priority of their orders? (Near zero on independent TPC-H
    draws; the oracle checks the exact integer decomposition.)"""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("o_orderpriority").alias("x"),
        F.col("c_mktsegment").alias("y"),
    )
    return theils_u(j, "x", "y")


THEILS_U_SQL = """
WITH j AS (
  SELECT o_orderpriority AS x, c_mktsegment AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cells AS (
  SELECT x, y, count(*) AS cxy FROM j GROUP BY x, y
),
my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y),
mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x),
tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
hxy AS (
  SELECT max(n) AS n,
         CAST(count(DISTINCT y) AS BIGINT) AS n_y,
         CAST(sum(cxy * ((length(bin(cy)) - 1)
                         - (length(bin(cxy)) - 1))) AS BIGINT)
           AS hxy_bits_num
  FROM cells JOIN my USING (y) CROSS JOIN tot
),
hx AS (
  SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_x,
         CAST(sum(cx * ((length(bin(n)) - 1)
                        - (length(bin(cx)) - 1))) AS BIGINT)
           AS hx_bits_num
  FROM mx CROSS JOIN tot
)
SELECT n, n_x, n_y, hx_bits_num, hxy_bits_num,
       CASE WHEN hx_bits_num > 0 THEN
         (1000 * greatest(hx_bits_num - hxy_bits_num, 0))
           // hx_bits_num END AS u_milli
FROM hxy CROSS JOIN hx
"""
