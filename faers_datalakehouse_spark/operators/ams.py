"""AMS (Alon-Matias-Szegedy) F2 sketch — the tug-of-war estimator for
the second frequency moment (AMS, "The space complexity of approximating
the frequency moments", STOC 1996). F2 = sum of squared frequencies is
the self-join size: the quantity that predicts how a key distribution
explodes under a self-equi-join (the LSH band-bucket hazard, skew-join
planning) — estimable in O(k) space from ONE pass, no per-key state.

Each of the k estimators draws a ±1 sign per VALUE from one shared
md5 (sign j = parity of hex digit j — one hash per row, 16 independent
bits; hashing dominates the per-row cost), accumulates
``Z_j = sum over rows of s_j(x)``, and estimates ``F2 ~ Z_j^2``. The
classic variance reduction averages groups of 4 and takes the median of
those means; with exact integers both the estimates and the median
(lower median — deterministic) hash identically in DuckDB.

Scale shape (100 TB): the sketch is ONE map-side-combinable global
aggregate of k integer sums (each row contributes k signs computed
map-side — no shuffle wider than k columns); the exact-F2 comparison
term is one ``groupBy(value)`` (distinct-value-sized, present here to
audit the estimator — production callers would skip it and keep the
single-pass property).

No counterpart in the reference repo (sketch extension surface,
alongside ``hll_*`` / ``cms_counts`` / ``kmv_distinct``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table


N_SKETCH = 16  # 4 groups of 4
_GROUP = 4


def _arr_sql(n_groups: int) -> str:
    cols = ", ".join(f"m{g}" for g in range(n_groups))
    return f"array_sort(array({cols}))"


def ams_f2(df: DataFrame, value_col: str) -> DataFrame:
    """One row: ``(n_rows, f2_exact, f2_est, err_ppm)``.

    ``f2_est`` is the median of ``N_SKETCH/_GROUP`` group means of
    squared tug-of-war sums; ``err_ppm = (f2_est - f2_exact) * 1000000
    div f2_exact`` (signed). Exact integers end-to-end.
    """
    # ONE md5 per row; sign j is the parity of hex digit j — md5 bits
    # are independent, and hashing is the whole per-row cost (16
    # separate md5s benched 7.3 s at sf0.1; one md5 + 16 nibble
    # parities is ~6x cheaper). r12: the 16 per-digit
    # ``conv(substring(h, j, 1))`` string conversions are folded into
    # TWO 8-digit ``conv`` calls + integer shift/mask parity extraction
    # — hex digit j of the md5 string is nibble (7 - j) of the first
    # 8-digit word (guide §2.3 "narrower types / cheaper per-row
    # expressions"); identical parities, identical sums.
    h = F.md5(F.col(value_col).cast("string"))
    c1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    c2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")

    def _sign(j: int):
        word, pos = (c1, 7 - j) if j < 8 else (c2, 15 - j)
        return 1 - 2 * (
            F.shiftright(word, 4 * pos).bitwiseAND(F.lit(1))
        )

    signs = df.select(
        *[_sign(j).alias(f"s{j}") for j in range(N_SKETCH)]
    )
    z = signs.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(f"s{j}").cast("long").alias(f"z{j}")
            for j in range(N_SKETCH)
        ],
    )
    n_groups = N_SKETCH // _GROUP
    means = [
        sum(
            F.col(f"z{g * _GROUP + i}") * F.col(f"z{g * _GROUP + i}")
            for i in range(_GROUP)
        )
        .cast("long")
        .alias(f"m{g}")
        for g in range(n_groups)
    ]
    grouped = z.select("n_rows", *means)
    # lower median of the n_groups group sums (deterministic): sort the
    # array and index — sums, not means, so no division is lost; the
    # final estimate divides once by _GROUP
    est = grouped.select(
        "n_rows",
        F.expr(
            f"CAST(element_at({_arr_sql(n_groups)}, "
            f"{(n_groups - 1) // 2 + 1}) div {_GROUP} AS BIGINT)"
        ).alias("f2_est"),
    )
    exact = (
        df.groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("_f"))
        .agg(
            F.sum(F.col("_f") * F.col("_f")).cast("long").alias(
                "f2_exact"
            )
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_rows",
        "f2_exact",
        "f2_est",
        F.expr(
            "CAST((f2_est - f2_exact) * 1000000 div f2_exact AS BIGINT)"
        ).alias("err_ppm"),
    )


def ams_f2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size of lineitem on partkey, estimated in 16 integers."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey"
    )
    return ams_f2(li, "l_partkey")


def _sql_sign(j: int) -> str:
    return (
        "(1 - 2 * ((('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), "
        f"{j + 1}, 1))::BIGINT) % 2))"
    )


def ams_f2_oracle_sql() -> str:
    zs = ",\n         ".join(
        f"CAST(sum({_sql_sign(j)}) AS BIGINT) AS z{j}"
        for j in range(N_SKETCH)
    )
    n_groups = N_SKETCH // _GROUP
    ms = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"z{g * _GROUP + i} * z{g * _GROUP + i}"
            for i in range(_GROUP)
        )
        + f" AS BIGINT) AS m{g}"
        for g in range(n_groups)
    )
    marr = ", ".join(f"m{g}" for g in range(n_groups))
    mid = (n_groups - 1) // 2 + 1  # 1-based
    return f"""
WITH z AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         {zs}
  FROM lineitem
),
grouped AS (
  SELECT n_rows,
         {ms}
  FROM z
),
est AS (
  SELECT n_rows,
         CAST(list_sort([{marr}])[{mid}] // {_GROUP} AS BIGINT)
           AS f2_est
  FROM grouped
),
exact AS (
  SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact
  FROM (SELECT count(*) AS f FROM lineitem GROUP BY l_partkey)
)
SELECT n_rows, f2_exact, f2_est,
       CAST((f2_est - f2_exact) * 1000000 // f2_exact AS BIGINT)
         AS err_ppm
FROM est CROSS JOIN exact
"""
