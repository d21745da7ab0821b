"""Benford first-digit audit — the classic fraud/data-quality screen for
positive numeric measures (Benford 1938; Nigrini 2012): in organically
generated data the leading significant digit d appears with probability
``log10(1 + 1/d)``, and systematic deviation flags fabricated or
truncated values.

Integer-exact cross-engine: the expected proportions are the nine
*constants* ``log10(1+1/d)`` hardcoded in parts-per-million (no runtime
``log`` call, whose libm rounding differs between Spark and DuckDB), the
observed proportion is ``count*1e6 div total`` (exact integer division),
and the leading digit is extracted from the decimal string of the cents
value (no float math at all).

Scale shape (100 TB): one map-side projection (string head of an
integer) followed by a 9-group aggregate with map-side partial
combine — output is 9 rows regardless of input size; the grand total
rides along via a window over those 9 rows (never the table).

No counterpart in the reference repo (data-quality extension surface,
alongside ``expectations_audit`` / ``profile_columns``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table

# log10(1 + 1/d) in parts-per-million, d = 1..9; floor-rounded so both
# engines see identical literals (sums to 999_997 — the audit compares
# per-digit, never the total).
_BENFORD_PPM = {
    1: 301029,
    2: 176091,
    3: 124938,
    4: 96910,
    5: 79181,
    6: 66946,
    7: 57991,
    8: 51152,
    9: 45757,
}


def benford_audit(df: DataFrame, value_col: str = "o_totalprice") -> DataFrame:
    """Observed-vs-Benford leading-digit distribution of a positive
    2-decimal measure: ``(digit, n, observed_ppm, expected_ppm,
    deviation_ppm)``, one row per digit 1-9, ordered by digit.

    Rows with a non-positive value carry no leading significant digit
    and are excluded (Benford's law is defined on positive magnitudes).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    digits = (
        df.select(cents.alias("v"))
        .where(F.col("v") > 0)
        .select(F.substring(F.col("v").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # grand total over the 9 digit rows — a window over <=9 rows, never
    # the input table
    total = F.sum("n").over(Window.partitionBy())
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
        ),
        F.col("digit"),
    )
    return (
        digits.select(
            "digit",
            "n",
            expected.alias("expected_ppm"),
            total.alias("_total"),
        )
        .select(
            "digit",
            "n",
            F.expr("(n * 1000000) div _total").alias("observed_ppm"),
            "expected_ppm",
        )
        .withColumn(
            "deviation_ppm",
            F.abs(F.col("observed_ppm") - F.col("expected_ppm")),
        )
        .orderBy("digit")
    )


def benford_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


def benford_oracle_sql(table: str = "orders", value_col: str = "o_totalprice") -> str:
    cases = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
    )
    return f"""
WITH pos AS (
  SELECT CAST(round({value_col} * 100) AS BIGINT) AS v
  FROM {table}
  WHERE round({value_col} * 100) > 0
), digits AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM pos
  GROUP BY 1
)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // sum(n) OVER () AS BIGINT) AS observed_ppm,
       CAST(CASE digit {cases} END AS BIGINT) AS expected_ppm,
       CAST(abs((n * 1000000) // sum(n) OVER ()
           - CASE digit {cases} END) AS BIGINT) AS deviation_ppm
FROM digits
ORDER BY digit
"""
