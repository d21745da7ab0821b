"""Feature hashing (the "hashing trick", Weinberger et al., ICML 2009)
— project an unbounded categorical feature space into a fixed number of
signed buckets, the standard way to featurize high-cardinality
categoricals (user ids, token ids) without a fitted vocabulary: bucket
= hash(feature) mod n, sign = an independent hash bit (the signed
variant keeps collision noise zero-mean).

Two faces in one operator:

- :func:`hash_features` — the row-level featurizer: one output row per
  (row, feature) with its bucket and sign; pure map-side, no shuffle,
  no fitted state — exactly why the trick scales to 100 TB (contrast
  ``categorical_encode``, which needs a vocabulary pass).
- :func:`feature_hash_profile` — the collision audit over the hashed
  space: per bucket, how many feature INSTANCES landed there, how many
  DISTINCT features collided, and the net signed mass. The audit is
  what tells you n_buckets is too small before training does.

Integer-exact cross-engine: bucket and sign both come from the portable
md5 idiom (``conv(substr(md5(f), ...), 16, 10)`` ↔ DuckDB
``('0x' || substr(md5(f), ...))::BIGINT``); hash inputs are explicit
``name=value`` strings so the feature identity is unambiguous.

No counterpart in the reference repo (ML-featurization extension
surface, alongside ``categorical_encode`` / ``target_encode``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketches import _hex_int
from ..sources.tables import read_table


def _feat_expr(col: str) -> Column:
    # explicit coalesce: concat_ws silently drops NULL operands, which
    # would collapse "name=" (absent) into "name" (a different feature)
    return F.concat(
        F.lit(col + "="), F.coalesce(F.col(col).cast("string"), F.lit(""))
    )


def hash_features(
    df: DataFrame,
    id_col: str,
    feature_cols: Sequence[str],
    n_buckets: int = 64,
) -> DataFrame:
    """One row per (id, feature): ``(id, feat, bucket, sign)`` with
    ``bucket in [0, n_buckets)`` and ``sign in {-1, +1}``. NULL feature
    values hash as the literal ``name=`` prefix (absence is itself a
    feature). Pure projection — no shuffle, no state."""
    if not feature_cols:
        raise ValueError("hash_features needs at least one feature column")
    feats = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*[_feat_expr(c) for c in feature_cols])
        ).alias("feat"),
    )
    return feats.select(
        "id",
        "feat",
        F.pmod(_hex_int(F.col("feat"), 1, 8), F.lit(n_buckets))
        .cast("long")
        .alias("bucket"),
        F.when(_hex_int(F.col("feat"), 9, 1) < 8, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("sign"),
    )


def feature_hash_profile(
    df: DataFrame,
    id_col: str,
    feature_cols: Sequence[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Collision audit of the hashed feature space: per bucket,
    ``(bucket, n, n_feats, net)`` — instance count, distinct colliding
    features, net signed mass. One map-side-combinable groupBy over the
    featurized stream; output is n_buckets-sized."""
    hashed = hash_features(df, id_col, feature_cols, n_buckets)
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("feat").alias("n_feats"),
            F.sum("sign").alias("net"),
        )
        .orderBy("bucket")
    )


def feature_hash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer featurization: segment, nation, and a coarse balance
    tier hashed into 64 signed buckets."""
    # tier over positive-shifted cents: Spark `div` truncates toward
    # zero while DuckDB `//` floors, so negative balances must never
    # reach the integer division
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.expr(
            "(cast(round(c_acctbal * 100) as bigint) + 1000000) div 100000"
        ).alias("bal_tier"),
    )
    return feature_hash_profile(
        cust,
        "c_custkey",
        ["c_mktsegment", "c_nationkey", "bal_tier"],
        n_buckets=64,
    )


def feature_hash_oracle_sql(n_buckets: int = 64) -> str:
    return f"""
WITH base AS (
  SELECT c_custkey,
         c_mktsegment,
         c_nationkey,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000) // 100000
           AS bal_tier
  FROM customer
),
feats AS (
  SELECT 'c_mktsegment=' || coalesce(CAST(c_mktsegment AS VARCHAR), '')
    AS feat FROM base
  UNION ALL
  SELECT 'c_nationkey=' || coalesce(CAST(c_nationkey AS VARCHAR), '')
    FROM base
  UNION ALL
  SELECT 'bal_tier=' || coalesce(CAST(bal_tier AS VARCHAR), '') FROM base
),
hashed AS (
  SELECT feat,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % {n_buckets} AS bucket,
         CASE WHEN ('0x' || substr(md5(feat), 9, 1))::BIGINT < 8
              THEN 1 ELSE -1 END AS sign
  FROM feats
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT feat) AS BIGINT) AS n_feats,
       CAST(sum(sign) AS BIGINT) AS net
FROM hashed
GROUP BY bucket
ORDER BY bucket
"""
