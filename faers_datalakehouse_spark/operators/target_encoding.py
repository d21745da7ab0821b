"""Leakage-free (out-of-fold) target encoding for categorical features.

Target encoding replaces a categorical value with the mean of the
target over rows sharing that value — powerful, but trivially leaky if
a row's own target participates in its encoding. The production fix is
K-fold OOF encoding: split rows into K deterministic folds and encode
each fold with statistics computed from the OTHER K-1 folds only
(Micci-Barreca 2001 popularized the smoothed variant; the OOF split is
the standard leakage guard in every gradient-boosting pipeline).

Scale shape: ONE map-side-combinable ``groupBy(category, fold)`` over
the fact reduces 100 TB to a |categories| x K frame; per-category
totals come from a window over that tiny frame (partitioned by
category — frames are K rows, never data-sized); the OOF statistic is
total minus own-fold. The encode itself is then a broadcast join of
this dictionary back onto the fact — which is why the operator RETURNS
the dictionary (the mergeable artifact), not a re-materialized fact.

Determinism/exactness: folds are the repo's engine-portable md5 bucket
(``sampling._hash_bucket``); the target is exact integer cents, so
every sum is exact int64 and the OOF mean is ONE exactly-rounded IEEE
division both engines reproduce bit-for-bit. Smoothing (prior blend
``(sum + m*prior)/(n + m)``) is left to the consumer — it derives from
the same exact state.

No counterpart in the reference (ML-featurization extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _hash_bucket
from ..sources.tables import read_table


def target_encode_oof(
    df: DataFrame,
    category_col: str,
    id_col: str,
    target_cents,
    k: int = 5,
) -> DataFrame:
    """OOF target-encoding dictionary: one row per (category, fold)
    with own-fold and out-of-fold exact counts/sums and the OOF mean.
    ``target_cents`` is a Column of exact integer target units."""
    if k < 2:
        raise ValueError("k must be >= 2")
    base = df.select(
        F.col(category_col).alias("category"),
        _hash_bucket(
            F.coalesce(F.col(id_col).cast("string"), F.lit("\0NULL")), k
        ).alias("fold"),
        target_cents.cast("long").alias("t"),
    )
    per_fold = base.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n_fold"),
        F.sum("t").alias("sum_fold"),
    )
    w = Window.partitionBy("category")
    n_oof = F.sum("n_fold").over(w) - F.col("n_fold")
    sum_oof = F.sum("sum_fold").over(w) - F.col("sum_fold")
    return per_fold.select(
        "category",
        "fold",
        "n_fold",
        "sum_fold",
        n_oof.alias("n_oof"),
        sum_oof.alias("sum_oof"),
        (
            sum_oof.cast("double")
            / F.nullif(n_oof, F.lit(0)).cast("double")
        ).alias("oof_mean"),
    ).orderBy("category", "fold")


def target_encode_oof_oracle_sql(k: int = 5) -> str:
    """DuckDB twin over orders: o_orderpriority encoded against
    o_totalprice cents, folds from the shared md5 bucket."""
    return f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 25, 8))::BIGINT
           % {int(k)} AS fold,
         CAST(round(o_totalprice * 100) AS BIGINT) AS t
  FROM orders
), per_fold AS (
  SELECT category, fold, CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(t) AS BIGINT) AS sum_fold
  FROM base GROUP BY 1, 2
)
SELECT category, fold, n_fold, sum_fold,
       CAST(sum(n_fold) OVER (PARTITION BY category) - n_fold AS BIGINT)
         AS n_oof,
       CAST(sum(sum_fold) OVER (PARTITION BY category) - sum_fold AS BIGINT)
         AS sum_oof,
       CAST(sum(sum_fold) OVER (PARTITION BY category) - sum_fold AS DOUBLE)
         / CAST(nullif(sum(n_fold) OVER (PARTITION BY category) - n_fold, 0)
                AS DOUBLE) AS oof_mean
FROM per_fold
ORDER BY category, fold
"""


def target_encode_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry: OOF-encode o_orderpriority against exact
    o_totalprice cents with the default 5 folds."""
    orders = read_table(spark, sf_dir, "orders")
    return target_encode_oof(
        orders,
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100),
    )
