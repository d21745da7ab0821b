"""Value-shape profiling — collapse every string to its character-class
pattern ("Clerk#000000001" -> ``Aa+#9+``) and census the shapes. The
standard first pass of data profiling / format-drift detection: a
column that yesterday was 100% ``9+-9+-9+`` and today grows a
``a+@a+.a+`` shape class has an ingestion bug, caught without reading a
single value (and without shipping PII — shapes are anonymous by
construction, which is why profilers exchange them freely).

Shape alphabet: ``A`` = uppercase run, ``a`` = lowercase run, ``9`` =
digit run, other characters kept verbatim; ``+`` marks a run of length
> 1. Pure regex, collapsed with one PER-CLASS pattern (``AA+ -> A+``)
because DuckDB's RE2 engine has no backreferences — ``(.)\\1+`` never
matches there, silently.

Scale shape (100 TB): shape derivation is scan-stage expression work
(no shuffle); the census is one map-side-combinable groupBy whose
output is shape-domain-sized (format domains are tiny by nature —
that's the point of shapes). Top-k per column via orderBy+limit.

No counterpart in the reference repo (data-quality extension surface,
alongside ``profile_columns`` / ``expectations_audit`` /
``numeric_standardize``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table


def shape_of(col: Column) -> Column:
    """Character-class shape of a string column (see module doc)."""
    s = F.regexp_replace(col, "[A-Z]", "A")
    s = F.regexp_replace(s, "[a-z]", "a")
    s = F.regexp_replace(s, "[0-9]", "9")
    # collapse runs of each class char to "<char>+" — one pattern per
    # class, NO backreferences (DuckDB is RE2: backrefs silently never
    # match, the r9 lesson this module documents)
    s = F.regexp_replace(s, "AA+", "A+")
    s = F.regexp_replace(s, "aa+", "a+")
    return F.regexp_replace(s, "99+", "9+")


def shape_profile(
    df: DataFrame, col: str, top_k: int = 20
) -> DataFrame:
    """``(shape, n, share_milli)`` census of ``col``'s value shapes —
    top ``top_k`` by count (ties by shape), exact milli shares."""
    shapes = df.select(shape_of(F.col(col)).alias("shape"))
    counts = shapes.groupBy("shape").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").cast("long").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "shape",
            "n",
            F.expr("CAST(n * 1000 div _t AS BIGINT)").alias(
                "share_milli"
            ),
        )
        .orderBy(F.col("n").desc(), "shape")
        .limit(top_k)
    )


def shape_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape census of the customer name column (Customer#000000042
    shapes) plus any drifted formats."""
    cust = read_table(spark, sf_dir, "customer")
    return shape_profile(cust, "c_name")


SHAPE_PROFILE_SQL = """
WITH shapes AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(c_name, '[A-Z]', 'A', 'g'),
               '[a-z]', 'a', 'g'),
             '[0-9]', '9', 'g'),
           'AA+', 'A+', 'g'), 'aa+', 'a+', 'g'), '99+', '9+', 'g')
           AS shape
  FROM customer
),
counts AS (
  SELECT shape, CAST(count(*) AS BIGINT) AS n
  FROM shapes GROUP BY shape
),
total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
SELECT shape, n, CAST(n * 1000 // t AS BIGINT) AS share_milli
FROM counts CROSS JOIN total
ORDER BY n DESC, shape
LIMIT 20
"""
