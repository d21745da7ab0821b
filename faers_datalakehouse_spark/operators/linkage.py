"""Frequency-weighted record linkage (Newcombe 1959 / the
value-specific-weight half of Fellegi–Sunter 1969).

Classic probabilistic linkage scores a candidate pair by summing per-
field agreement weights, where agreeing on a RARE value (an uncommon
surname) is worth more than agreeing on a common one ("Smith"): the
value-specific unmatch-agreement probability is ``u_f(v) = n_a(v) *
n_b(v) / (N_a * N_b)``, and the field weight is ``-log2 u_f(v)``.

This implementation keeps the repo's integer-exactness convention: the
weight is the BIT LENGTH of the integer ratio ``(N_a*N_b) div
(n_a(v)*n_b(v))`` — a floor-log2 both engines compute identically with
no libm — and the pair score is the integer sum over agreeing fields
(disagreement contributes 0; the m-probability term of full
Fellegi–Sunter needs labeled pairs or EM and is out of scope, as in
most production deployments that use frequency weights directly).

Scale shape: candidate pairs come from BLOCKING (here: equal nation
key), so the join is a keyed equi-join, never a cross product; the
per-value frequency tables are groupBy results of each side's fields
joined back by value — dimension-sized broadcasts. The quadratic
kernel is confined to blocks, exactly like the SNM / length-band
dedup operators in this repo.

Fields over the TPC-H-ish parties (customer probe vs supplier build),
chosen from what the synthetic schema actually carries: account-balance
band (hundreds — a coarse, common field) and balance CENTS (the
sub-dollar digits, a classic high-cardinality quasi-identifier) — both
engine-portable integer derivations. Real deployments plug in surname/
DOB/address fields the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table

_FIELDS = ("bal_band", "bal_cents")


def _ilog2(col: Column) -> Column:
    """floor(log2(x)) for positive integers, via bit length."""
    return (F.length(F.bin(col)) - 1).cast("long")


def _party(df: DataFrame, key: str, bal: str, nation: str):
    return df.select(
        F.col(key).alias("pid"),
        F.col(nation).alias("nationkey"),
        F.expr(f"CAST(floor({bal}) AS BIGINT) div 100").alias("bal_band"),
        F.expr(
            f"CAST(round({bal} * 100) AS BIGINT) % 100"
        ).alias("bal_cents"),
    )


def linkage_scores(
    spark: SparkSession, sf_dir: str, min_score: int = 12
) -> DataFrame:
    """Nation-blocked candidate pairs scored by frequency weights;
    returns pairs at or above ``min_score`` with per-field agreement
    flags. Deterministic: weights are integer bit-lengths, ordering is
    total."""
    cust = _party(
        read_table(spark, sf_dir, "customer"),
        "c_custkey",
        "c_acctbal",
        "c_nationkey",
    )
    supp = _party(
        read_table(spark, sf_dir, "supplier"),
        "s_suppkey",
        "s_acctbal",
        "s_nationkey",
    )
    n_a = cust.count()
    n_b = supp.count()
    total = n_a * n_b
    pairs = cust.alias("a").join(
        supp.alias("b"), on="nationkey"
    )
    score = F.lit(0).cast("long")
    out_cols = [
        F.col("a.pid").alias("c_custkey"),
        F.col("b.pid").alias("s_suppkey"),
    ]
    for f in _FIELDS:
        # per-value frequencies on each side: dimension-sized frames,
        # broadcast back onto the candidate pairs
        fa = cust.groupBy(F.col(f).alias(f"_va_{f}")).agg(
            F.count(F.lit(1)).alias(f"_na_{f}")
        )
        fb = supp.groupBy(F.col(f).alias(f"_vb_{f}")).agg(
            F.count(F.lit(1)).alias(f"_nb_{f}")
        )
        pairs = pairs.join(
            F.broadcast(fa), F.col(f"a.{f}") == F.col(f"_va_{f}")
        ).join(F.broadcast(fb), F.col(f"b.{f}") == F.col(f"_vb_{f}"))
        agree = (F.col(f"a.{f}") == F.col(f"b.{f}")).cast("long")
        weight = _ilog2(
            F.expr(f"CAST({total} AS BIGINT) div (_na_{f} * _nb_{f})")
            + F.lit(1)  # +1 guards div-to-zero for very common values
        )
        score = score + agree * weight
        out_cols.append(agree.alias(f"agree_{f}"))
    return (
        pairs.select(*out_cols, score.alias("score"))
        .where(F.col("score") >= min_score)
        .orderBy("c_custkey", "s_suppkey")
    )


def linkage_oracle_sql(min_score: int = 12) -> str:
    return f"""
WITH a AS (
  SELECT c_custkey AS pid, c_nationkey AS nationkey,
         CAST(floor(c_acctbal) AS BIGINT) // 100 AS bal_band,
         CAST(round(c_acctbal * 100) AS BIGINT) % 100 AS bal_cents
  FROM customer
), b AS (
  SELECT s_suppkey AS pid, s_nationkey AS nationkey,
         CAST(floor(s_acctbal) AS BIGINT) // 100 AS bal_band,
         CAST(round(s_acctbal * 100) AS BIGINT) % 100 AS bal_cents
  FROM supplier
), tot AS (
  SELECT (SELECT count(*) FROM a) * (SELECT count(*) FROM b) AS t
), fa_p AS (SELECT bal_band v, count(*) n FROM a GROUP BY 1),
   fb_p AS (SELECT bal_band v, count(*) n FROM b GROUP BY 1),
   fa_b AS (SELECT bal_cents v, count(*) n FROM a GROUP BY 1),
   fb_b AS (SELECT bal_cents v, count(*) n FROM b GROUP BY 1)
SELECT a.pid AS c_custkey, b.pid AS s_suppkey,
       CAST(a.bal_band = b.bal_band AS BIGINT) AS agree_bal_band,
       CAST(a.bal_cents = b.bal_cents AS BIGINT) AS agree_bal_cents,
       CAST(a.bal_band = b.bal_band AS BIGINT)
         * (length(bin(tot.t // (fa_p.n * fb_p.n) + 1)) - 1)
       + CAST(a.bal_cents = b.bal_cents AS BIGINT)
         * (length(bin(tot.t // (fa_b.n * fb_b.n) + 1)) - 1) AS score
FROM a JOIN b USING (nationkey)
CROSS JOIN tot
JOIN fa_p ON fa_p.v = a.bal_band
JOIN fb_p ON fb_p.v = b.bal_band
JOIN fa_b ON fa_b.v = a.bal_cents
JOIN fb_b ON fb_b.v = b.bal_cents
WHERE CAST(a.bal_band = b.bal_band AS BIGINT)
        * (length(bin(tot.t // (fa_p.n * fb_p.n) + 1)) - 1)
      + CAST(a.bal_cents = b.bal_cents AS BIGINT)
        * (length(bin(tot.t // (fa_b.n * fb_b.n) + 1)) - 1) >= {int(min_score)}
ORDER BY c_custkey, s_suppkey
"""
