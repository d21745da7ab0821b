"""Holt double exponential smoothing (Holt 1957) — per-series level +
trend state, the classic short-horizon forecaster for daily operational
metrics (the ewma_daily entry's trend-aware big sibling):

    l_i = α·x_i + (1−α)·(l_{i−1} + t_{i−1})
    t_i = β·(l_i − l_{i−1}) + (1−β)·t_{i−1}

Integer-exact cross-engine: the state is milli-scaled BIGINT, α and β
are 1024-denominated (α=307/1024≈0.3, β=205/1024≈0.2), and every
division is an ARITHMETIC RIGHT SHIFT by 10 — both Spark
``shiftright`` and DuckDB ``>>`` floor on negatives (probed), unlike
``div`` (truncates) vs ``//`` (floors), so the recursion is
bit-identical even when the trend goes negative. No floats anywhere.

Scale shape (100 TB): the recursion is inherently sequential PER
SERIES, so the only sound distributed shape is "parallel across
series, sequential within": one groupBy collects each series into a
day-sorted array (state bounded by days-per-series — ~365 here, never
row count; the kcenter bounded-collect discipline) and a single
``F.aggregate`` higher-order fold runs the recursion JVM-side inside
whole-stage codegen. Millions of independent series parallelize
perfectly; a single 100 TB series would not — that is Holt's data
dependency, not a plan defect.

The DuckDB twin unrolls the same recursion as a recursive CTE joining
``rn = rn+1`` (all series advance in lock-step per iteration).

No counterpart in the reference repo (time-series extension surface,
alongside ``ewma_daily`` / ``moving_average`` / ``linear_interpolate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table

# α = 307/1024 ≈ 0.2998, β = 205/1024 ≈ 0.2002
_A = 307
_A1 = 1024 - _A
_B = 205
_B1 = 1024 - _B

_LP = f"shiftright({_A} * e.x * 1000 + {_A1} * (acc.l + acc.t), 10)"
_FOLD = f"""
aggregate(
  slice(xs, 2, greatest(size(xs) - 1, 0)),
  named_struct('l', xs[0].x * 1000, 't', 0L),
  (acc, e) -> named_struct(
    'l', {_LP},
    't', shiftright({_B} * ({_LP} - acc.l) + {_B1} * acc.t, 10)
  )
)
"""


def holt_smooth(
    daily: DataFrame,
    group_col: str = "grp",
    day_col: str = "day",
    value_col: str = "x",
) -> DataFrame:
    """``(grp, n_days, level_milli, trend_milli, forecast_milli)`` per
    series, ordered by grp — final Holt state after folding the
    day-ordered values, plus the one-step-ahead forecast ``l + t``.
    Missing days are treated as consecutive steps (no gap fill)."""
    series = daily.groupBy(F.col(group_col).alias("grp")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(day_col).alias("day"),
                    F.col(value_col).cast("long").alias("x"),
                )
            )
        ).alias("xs")
    )
    return (
        series.select(
            "grp",
            F.size("xs").cast("long").alias("n_days"),
            F.expr(_FOLD).alias("_s"),
        )
        .select(
            "grp",
            "n_days",
            F.col("_s.l").alias("level_milli"),
            F.col("_s.t").alias("trend_milli"),
            (F.col("_s.l") + F.col("_s.t")).alias("forecast_milli"),
        )
        .orderBy("grp")
    )


def holt_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily 1995 revenue cents per order priority, Holt-smoothed."""
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "x"
            )
        )
    )
    return holt_smooth(daily)


def holt_oracle_sql() -> str:
    lp = f"(307 * s.x * 1000 + 717 * (h.l + h.t)) >> 10"
    return f"""
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS grp, o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders
  WHERE year(o_orderdate) = 1995
  GROUP BY 1, 2
),
series AS (
  SELECT grp, x,
         row_number() OVER (PARTITION BY grp ORDER BY day) AS rn
  FROM daily
),
hw AS (
  SELECT grp, rn, x * 1000 AS l, CAST(0 AS BIGINT) AS t
  FROM series WHERE rn = 1
  UNION ALL
  SELECT s.grp, s.rn,
         {lp} AS l,
         (205 * (({lp}) - h.l) + 819 * h.t) >> 10 AS t
  FROM hw h JOIN series s ON s.grp = h.grp AND s.rn = h.rn + 1
),
last AS (SELECT grp, max(rn) AS n_days FROM series GROUP BY grp)
SELECT h.grp,
       CAST(l.n_days AS BIGINT) AS n_days,
       CAST(h.l AS BIGINT) AS level_milli,
       CAST(h.t AS BIGINT) AS trend_milli,
       CAST(h.l + h.t AS BIGINT) AS forecast_milli
FROM hw h JOIN last l ON h.grp = l.grp AND h.rn = l.n_days
ORDER BY h.grp
"""
