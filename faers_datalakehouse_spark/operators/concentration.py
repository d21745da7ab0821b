"""Herfindahl-Hirschman concentration of the corpus mix — per
language: how concentrated is document supply across sources? The
one-number mix-health screen a curation pipeline reads before
``water_filling``/``temperature_mix`` rebalance anything (HHI ≥ 0.25
is the classical "highly concentrated" flag), complementing
``source_entropy`` (a diversity measure) with the antitrust-style
concentration measure.

    HHI  = Σ_i (c_i / N)²          ∈ (0, 1]
    HHI* = (HHI - 1/m) / (1 - 1/m) ∈ [0, 1]   (normalized, m sources)

Exactness discipline: ``Σ c_i²`` is n²-scaled → DECIMAL(38,0) at
birth (HUGEINT twin); both ratios are single IEEE expressions over
exact integers, reported as floored micro/milli BIGINTs. NULL
normalized HHI when only one source exists (the 0/0 case).

Scale shape (100 TB): one map-side-combinable ``groupBy(lang,
source)`` count, then a |lang×source|-row rollup. Nothing touches the
base table twice.

No counterpart in the reference repo (curation extension surface,
alongside ``source_entropy`` / ``mixture_weights`` / ``top_p_sources``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table


def hhi_by_group(
    df: DataFrame, group_col: str, member_col: str
) -> DataFrame:
    """``(group_col, n_members, n_rows, hhi_micro, nhhi_milli)`` —
    concentration of ``group_col``'s rows across ``member_col``."""
    per = df.groupBy(group_col, member_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    g = per.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c"))
        .cast("decimal(38,0)")
        .alias("c2"),
    )
    hhi = (
        "CAST(c2 AS DOUBLE)"
        " / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))"
    )
    return (
        g.select(
            group_col,
            "n_members",
            "n_rows",
            F.expr(
                f"CAST(floor(({hhi}) * 1000000.0) AS BIGINT)"
            ).alias("hhi_micro"),
            F.expr(
                "CASE WHEN n_members > 1 THEN "
                f"CAST(floor((({hhi}) - 1.0 / CAST(n_members AS DOUBLE))"
                " * 1000.0"
                " / (1.0 - 1.0 / CAST(n_members AS DOUBLE)))"
                " AS BIGINT) END"
            ).alias("nhhi_milli"),
        )
        .orderBy(group_col)
    )


def hhi_concentration_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per language: source concentration of the document corpus."""
    docs = read_table(spark, sf_dir, "documents")
    return hhi_by_group(docs, "lang", "source")


HHI_SQL = """
WITH per AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
g AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2
  FROM per GROUP BY 1
)
SELECT lang, n_members, n_rows,
       CAST(floor(CAST(c2 AS DOUBLE)
         / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))
         * 1000000.0) AS BIGINT) AS hhi_micro,
       CASE WHEN n_members > 1 THEN
         CAST(floor((CAST(c2 AS DOUBLE)
             / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))
             - 1.0 / CAST(n_members AS DOUBLE)) * 1000.0
           / (1.0 - 1.0 / CAST(n_members AS DOUBLE))) AS BIGINT) END
         AS nhhi_milli
FROM g
ORDER BY lang
"""
