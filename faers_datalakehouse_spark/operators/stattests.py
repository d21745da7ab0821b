"""Two-sample hypothesis tests over grouped data — Mann-Whitney U
(rank-sum) and Welch's unequal-variance t-test, the two workhorse
A/B-style comparisons a curation pipeline runs per segment (does cohort
A's engagement/value distribution differ from cohort B's?).

Complements ``ab_test`` (two-proportion z) and ``crosstab_chi2``
(categorical independence): Mann-Whitney is the distribution-free test
on a numeric measure (robust to outliers and any monotone transform),
Welch is the parametric mean-difference test that does not assume equal
variances (Welch 1947; the recommended default over Student's t).

Integer-exact core, IEEE-deterministic tail (the ``spearman.py``
discipline): rank sums are derived from per-(group, value) counts and
an exclusive prefix sum — never a per-row rank — using DOUBLED
tie-averaged ranks so everything stays integral; the tie-correction
term ``T = sum(t^3 - t)`` (n³-scaled — a single 2.1M-row tie cell
overflows int64, so it runs in DECIMAL(38,0) / HUGEINT end-to-end and
is emitted pre-scaled as the bounded ``ties_milli = 1000*T div
(n*(n-1)*(n+1))`` — ADVICE r9) and the doubled U statistic are exact
(U is n²-scaled: BIGINT-exact to ~2e9 rows/group, documented bound).
Welch's moment sums are exact (DECIMAL(38,0) for the squared sums — the
cents^2 scale overflows int64 at realistic row counts). The final
``z_milli`` / ``t_milli`` are single fixed expression trees of
correctly-rounded IEEE ops (``*``, ``/``, ``sqrt``) over those exact
integers, so they hash identically in the DuckDB twin.

Scale shape (100 TB): both tests are two map-side-combinable aggregates.
Mann-Whitney: ``groupBy(group, value)`` (output is distinct-value-sized),
one prefix-sum window PARTITIONED BY group over those aggregated rows
(never the base table), then a per-group rollup. Welch: a single
``groupBy(group, cohort)`` then a self-pivot — output is 2x|groups|
rows. No joins against the fact table, no driver round-trips.

No counterpart in the reference repo (statistics extension surface,
alongside ``ab_test`` / ``crosstab_chi2`` / ``spearman_corr``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def mann_whitney_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cohort_col: str,
) -> DataFrame:
    """``(group_col, n1, n2, u2, ties_milli, z_milli)`` per group.

    ``cohort_col`` must be 0/1 (1 = treatment). ``u2`` is the DOUBLED
    Mann-Whitney U of cohort 1 (exact under ties: ``2*U = R1_2 -
    n1*(n1+1)`` with doubled tie-averaged ranks); ``ties_milli`` is the
    tie correction ``T = sum(t^3 - t)`` pre-scaled by its maximum
    ``n*(n-1)*(n+1)`` to exact [0, 1000] milli units (the raw T is
    n³-scaled and cannot be emitted as BIGINT — ADVICE r9); ``z_milli``
    is the normal-approximation z-score in exact milli units (NULL when
    a cohort is empty or the tie-corrected variance is zero).
    """
    per_value = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(F.col(cohort_col)).alias("c1"),
    )
    w_lt = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_value.withColumn(
        "cum_lt", F.coalesce(F.sum("c_all").over(w_lt), F.lit(0))
    )
    # r1_2 is n²-scaled, t_corr n³-scaled: both sums run in
    # DECIMAL(38,0) (HUGEINT in the twin) so no tie-cell size or group
    # size overflows mid-aggregation (ADVICE r9). u2 narrows to BIGINT
    # on output: exact to ~2e9 rows/group, a documented bound.
    per_group = ranked.groupBy(group_col).agg(
        F.sum("c1").cast("long").alias("n1"),
        (F.sum("c_all") - F.sum("c1")).cast("long").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("cum_lt") + F.col("c_all") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_2"),
        F.sum(
            F.col("c_all").cast("decimal(38,0)")
            * F.col("c_all")
            * F.col("c_all")
            - F.col("c_all")
        )
        .cast("decimal(38,0)")
        .alias("t_corr"),
    )
    # z = (U - n1*n2/2) / sqrt(n1*n2*((n+1) - T/(n*(n-1)))/12); with
    # doubled U the mean doubles and the denominator gains a factor 2.
    # The mean term multiplies n1*n2 as DOUBLE (BIGINT n1*n2 overflows
    # near 4.3e9 rows/group — ADVICE r9) and T enters as DOUBLE. One
    # fixed expression tree, mirrored verbatim in the SQL twin.
    return (
        per_group.withColumn(
            "u2",
            (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).cast(
                "long"
            ),
        )
        .withColumn("n", F.col("n1") + F.col("n2"))
        .withColumn(
            "ties_milli",
            F.expr(
                "CASE WHEN n > 1 THEN CAST(t_corr * 1000 div "
                "(CAST(n AS DECIMAL(38,0)) * (n - 1) * (n + 1)) "
                "AS BIGINT) END"
            ),
        )
        .withColumn(
            "z_milli",
            F.expr(
                "CASE WHEN n1 > 0 AND n2 > 0 AND "
                "  (n + 1.0) * n * (n - 1.0) - CAST(t_corr AS DOUBLE)"
                "  > 0 THEN "
                "CAST(floor((u2 - CAST(n1 AS DOUBLE) * n2) * 1000.0 / "
                " (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 * "
                "  ((n + 1.0) * n * (n - 1.0) "
                "   - CAST(t_corr AS DOUBLE))) / "
                "  (12.0 * n * (n - 1.0))))) AS BIGINT) END"
            ),
        )
        .select(group_col, "n1", "n2", "u2", "ties_milli", "z_milli")
        .orderBy(group_col)
    )


def mann_whitney_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: does the value distribution of even-id users
    differ from odd-id users? (Deterministic cohort split — the stand-in
    for an experiment assignment column.)"""
    from faers_datalakehouse_spark.sources.tables import read_events

    # read_events, not raw parquet: the driver testdata's ts encoding
    # has drifted across regenerations (ADVICE r9 item 4)
    events = read_events(spark, sf_dir)
    base = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        (F.col("user_id") % 2 == 0).cast("int").alias("is_even"),
    )
    return mann_whitney_by_group(base, "event_type", "v_cents", "is_even")


MANN_WHITNEY_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_even
  FROM events
),
per_value AS (
  SELECT event_type, v_cents,
         count(*) AS c_all, sum(is_even) AS c1
  FROM base GROUP BY event_type, v_cents
),
ranked AS (
  SELECT *,
         COALESCE(sum(c_all) OVER (PARTITION BY event_type
             ORDER BY v_cents ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS cum_lt
  FROM per_value
),
per_group AS (
  SELECT event_type,
         CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c_all) - sum(c1) AS BIGINT) AS n2,
         CAST(sum(CAST(c1 AS HUGEINT) * (2 * cum_lt + c_all + 1))
              AS HUGEINT) AS r1_2,
         CAST(sum(CAST(c_all AS HUGEINT) * c_all * c_all - c_all)
              AS HUGEINT) AS t_corr
  FROM ranked GROUP BY event_type
),
u AS (
  SELECT *, CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u2,
         n1 + n2 AS n
  FROM per_group
)
SELECT event_type, n1, n2, u2,
       CASE WHEN n > 1 THEN CAST(t_corr * 1000 //
         (CAST(n AS HUGEINT) * (n - 1) * (n + 1)) AS BIGINT)
       END AS ties_milli,
       CASE WHEN n1 > 0 AND n2 > 0 AND
                 (n + 1.0) * n * (n - 1.0) - CAST(t_corr AS DOUBLE)
                 > 0 THEN
         CAST(floor((u2 - CAST(n1 AS DOUBLE) * n2) * 1000.0 /
           (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 *
            ((n + 1.0) * n * (n - 1.0) - CAST(t_corr AS DOUBLE))) /
            (12.0 * n * (n - 1.0))))) AS BIGINT) END AS z_milli
FROM u
ORDER BY event_type
"""


def welch_ttest_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cohort_col: str,
) -> DataFrame:
    """``(group_col, n1, n2, mean1_milli, mean2_milli, t_milli)`` per
    group — Welch's unequal-variance t statistic in exact milli units.

    ``cohort_col`` must be 0/1. Moment sums are exact (``sum(x)`` BIGINT,
    ``sum(x^2)`` DECIMAL(38,0)); means are integer milli divisions; the
    t statistic is one fixed IEEE expression over the exact moments.
    NULL ``t_milli`` when either cohort has < 2 rows or both variance
    numerators are zero.
    """
    x = F.col(value_col)
    agg = df.groupBy(group_col).agg(
        F.sum(F.col(cohort_col)).cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum(F.col(cohort_col)))
        .cast("long")
        .alias("n2"),
        F.sum(F.col(cohort_col) * x).cast("long").alias("sx1"),
        (F.sum(x) - F.sum(F.col(cohort_col) * x))
        .cast("long")
        .alias("sx2"),
        F.sum(F.col(cohort_col) * x.cast("decimal(38,0)") * x)
        .cast("decimal(38,0)")
        .alias("sxx1"),
        (
            F.sum(x.cast("decimal(38,0)") * x)
            - F.sum(F.col(cohort_col) * x.cast("decimal(38,0)") * x)
        )
        .cast("decimal(38,0)")
        .alias("sxx2"),
    )
    # variance numerators n_i*sxx_i - sx_i^2 stay exact in decimal; the
    # t ratio is a single fixed double expression mirrored in the twin.
    return (
        agg.withColumn(
            "v1",
            (
                F.col("n1") * F.col("sxx1")
                - F.col("sx1").cast("decimal(38,0)") * F.col("sx1")
            ).cast("decimal(38,0)"),
        )
        .withColumn(
            "v2",
            (
                F.col("n2") * F.col("sxx2")
                - F.col("sx2").cast("decimal(38,0)") * F.col("sx2")
            ).cast("decimal(38,0)"),
        )
        # milli products in decimal: BIGINT sx*1000 binds at ~6e10
        # rows/group for dollar-scale values (r10 overflow audit)
        .withColumn(
            "mean1_milli",
            F.expr(
                "CASE WHEN n1 > 0 THEN CAST(CAST(sx1 AS DECIMAL(38,0))"
                " * 1000 div n1 AS BIGINT) END"
            ),
        )
        .withColumn(
            "mean2_milli",
            F.expr(
                "CASE WHEN n2 > 0 THEN CAST(CAST(sx2 AS DECIMAL(38,0))"
                " * 1000 div n2 AS BIGINT) END"
            ),
        )
        .withColumn(
            "t_milli",
            F.expr(
                "CASE WHEN n1 >= 2 AND n2 >= 2 AND "
                "  CAST(v1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))"
                "  + CAST(v2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))"
                "  > 0 THEN "
                "CAST(floor((CAST(sx1 AS DOUBLE) / n1 "
                "            - CAST(sx2 AS DOUBLE) / n2) * 1000.0 / "
                " sqrt(CAST(v1 AS DOUBLE) / "
                "       (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) "
                "      + CAST(v2 AS DOUBLE) / "
                "       (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)))) AS BIGINT) "
                "END"
            ),
        )
        .select(
            group_col,
            "n1",
            "n2",
            "mean1_milli",
            "mean2_milli",
            "t_milli",
        )
        .orderBy(group_col)
    )


def welch_ttest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: do urgent-priority orders (1-URGENT/2-HIGH)
    carry a different mean order value than routine ones?"""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice")).cast("long").alias("v_usd"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("is_urgent"),
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "v_usd", "is_urgent")
    return welch_ttest_by_group(j, "c_mktsegment", "v_usd", "is_urgent")


WELCH_TTEST_SQL = """
WITH j AS (
  SELECT c_mktsegment,
         CAST(round(o_totalprice) AS BIGINT) AS v_usd,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS is_urgent
  FROM orders JOIN customer ON o_custkey = c_custkey
),
agg AS (
  SELECT c_mktsegment,
         CAST(sum(is_urgent) AS BIGINT) AS n1,
         CAST(count(*) - sum(is_urgent) AS BIGINT) AS n2,
         CAST(sum(is_urgent * v_usd) AS BIGINT) AS sx1,
         CAST(sum(v_usd) - sum(is_urgent * v_usd) AS BIGINT) AS sx2,
         CAST(sum(is_urgent * CAST(v_usd AS DECIMAL(38,0)) * v_usd)
              AS DECIMAL(38,0)) AS sxx1,
         CAST(sum(CAST(v_usd AS DECIMAL(38,0)) * v_usd)
              - sum(is_urgent * CAST(v_usd AS DECIMAL(38,0)) * v_usd)
              AS DECIMAL(38,0)) AS sxx2
  FROM j GROUP BY c_mktsegment
),
v AS (
  SELECT *,
         CAST(n1 * sxx1 - CAST(sx1 AS DECIMAL(38,0)) * sx1
              AS DECIMAL(38,0)) AS v1,
         CAST(n2 * sxx2 - CAST(sx2 AS DECIMAL(38,0)) * sx2
              AS DECIMAL(38,0)) AS v2
  FROM agg
)
SELECT c_mktsegment, n1, n2,
       CASE WHEN n1 > 0
            THEN CAST(CAST(sx1 AS HUGEINT) * 1000 // n1 AS BIGINT)
       END AS mean1_milli,
       CASE WHEN n2 > 0
            THEN CAST(CAST(sx2 AS HUGEINT) * 1000 // n2 AS BIGINT)
       END AS mean2_milli,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND
              CAST(v1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
              + CAST(v2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))
              > 0 THEN
         CAST(floor((CAST(sx1 AS DOUBLE) / n1
                     - CAST(sx2 AS DOUBLE) / n2) * 1000.0 /
           sqrt(CAST(v1 AS DOUBLE) /
                 (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                + CAST(v2 AS DOUBLE) /
                 (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)))) AS BIGINT)
       END AS t_milli
FROM v
ORDER BY c_mktsegment
"""


def odds_ratio_by_group(
    df: DataFrame,
    group_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """2x2 association per group: ``(group_col, a, b, c, d, or_milli)``
    where a = exposed+outcome, b = exposed only, c = outcome only,
    d = neither, and ``or_milli = a*d*1000 div (b*c)`` (NULL when any
    off-diagonal cell is empty — report the table, not a fabricated
    continuity correction). Both indicator columns must be 0/1.

    Scale shape: ONE map-side-combinable aggregate (four conditional
    sums) per group — no contingency explosion, no joins.
    """
    e = F.col(exposure_col)
    o = F.col(outcome_col)
    g = df.groupBy(group_col).agg(
        F.sum(e * o).cast("long").alias("a"),
        F.sum(e * (1 - o)).cast("long").alias("b"),
        F.sum((1 - e) * o).cast("long").alias("c"),
        F.sum((1 - e) * (1 - o)).cast("long").alias("d"),
    )
    return (
        g.withColumn(
            "or_milli",
            F.expr(
                "CASE WHEN b > 0 AND c > 0 THEN "
                "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000 "
                "div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT) END"
            ),
        )
        .orderBy(group_col)
    )


def odds_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: are urgent-priority orders associated with
    high order values (> $200k)? The FAERS-style disproportionality
    2x2 (reporting-odds-ratio shape) on the order book."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("exposed"),
        (F.col("o_totalprice") > 200000).cast("int").alias("big"),
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "exposed", "big")
    return odds_ratio_by_group(j, "c_mktsegment", "exposed", "big")


ODDS_RATIO_SQL = """
WITH j AS (
  SELECT c_mktsegment,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS exposed,
         CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS big
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT c_mktsegment,
         CAST(sum(exposed * big) AS BIGINT) AS a,
         CAST(sum(exposed * (1 - big)) AS BIGINT) AS b,
         CAST(sum((1 - exposed) * big) AS BIGINT) AS c,
         CAST(sum((1 - exposed) * (1 - big)) AS BIGINT) AS d
  FROM j GROUP BY 1
)
SELECT c_mktsegment, a, b, c, d,
       CASE WHEN b > 0 AND c > 0 THEN
         CAST(CAST(a AS HUGEINT) * d * 1000
              // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_milli
FROM g
ORDER BY c_mktsegment
"""


def runs_test_by_series(
    daily: DataFrame,
    series_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test on the up/down moves of a series:
    ``(series_col, n_up, n_down, n_runs, z_milli)``.

    Moves are sign(y_t - y_{t-1}) in x order; ties (zero moves) are
    dropped, per the standard treatment. Too few runs = trending /
    positively autocorrelated; too many = oscillating. ``z_milli`` is
    the exact-moment normal approximation (NULL when n_up or n_down is
    zero or the variance is zero); mu and the variance numerator are
    exact integer expressions, the z is one fixed IEEE tree.

    Scale shape: one lag window per series over the day-grain frame for
    the moves, a second for run boundaries — both calendar-bounded; the
    rollup is map-side-combinable.
    """
    w_seq = Window.partitionBy(series_col).orderBy(x_col)
    moves = (
        daily.withColumn("_prev", F.lag(y_col).over(w_seq))
        .where(F.col("_prev").isNotNull())
        .where(F.col(y_col) != F.col("_prev"))
        .withColumn(
            "_sgn", (F.col(y_col) > F.col("_prev")).cast("int")
        )
    )
    runs = moves.withColumn(
        "_new_run",
        F.when(
            F.lag("_sgn").over(w_seq).isNull()
            | (F.lag("_sgn").over(w_seq) != F.col("_sgn")),
            1,
        ).otherwise(0),
    )
    g = runs.groupBy(series_col).agg(
        F.sum("_sgn").cast("long").alias("n_up"),
        (F.count(F.lit(1)) - F.sum("_sgn")).cast("long").alias(
            "n_down"
        ),
        F.sum("_new_run").cast("long").alias("n_runs"),
    )
    # mu = 2*n1*n2/n + 1; var = 2*n1*n2*(2*n1*n2 - n)/(n^2*(n-1))
    return (
        g.withColumn(
            "z_milli",
            F.expr(
                "CASE WHEN n_up > 0 AND n_down > 0 AND "
                "  2.0 * n_up * n_down * "
                "  (2.0 * n_up * n_down - (n_up + n_down)) > 0 THEN "
                "CAST(floor((n_runs - (2.0 * n_up * n_down / "
                "  (n_up + n_down) + 1.0)) * 1000.0 / "
                " sqrt((2.0 * n_up * n_down * "
                "  (2.0 * n_up * n_down - (n_up + n_down))) / "
                "  (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down) * "
                "   (n_up + n_down - 1)))) AS BIGINT) END"
            ),
        )
        .orderBy(series_col)
    )


def runs_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's daily volume a random walk of ups and
    downs, or trending/oscillating?"""
    from faers_datalakehouse_spark.sources.tables import read_events

    events = read_events(spark, sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    daily = daily.select(
        "event_type",
        F.datediff("day", F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("x"),
        F.col("cnt").alias("y"),
    )
    return runs_test_by_series(daily, "event_type", "x", "y")


RUNS_TEST_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
moves AS (
  SELECT event_type, x, y,
         lag(y) OVER (PARTITION BY event_type ORDER BY x) AS prev
  FROM daily
),
m2 AS (
  SELECT event_type, x,
         CASE WHEN y > prev THEN 1 ELSE 0 END AS sgn
  FROM moves WHERE prev IS NOT NULL AND y <> prev
),
runs AS (
  SELECT event_type, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY event_type
                                  ORDER BY x) IS NULL
                OR lag(sgn) OVER (PARTITION BY event_type
                                  ORDER BY x) <> sgn
              THEN 1 ELSE 0 END AS new_run
  FROM m2
),
g AS (
  SELECT event_type,
         CAST(sum(sgn) AS BIGINT) AS n_up,
         CAST(count(*) - sum(sgn) AS BIGINT) AS n_down,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs GROUP BY 1
)
SELECT event_type, n_up, n_down, n_runs,
       CASE WHEN n_up > 0 AND n_down > 0 AND
              2.0 * n_up * n_down *
              (2.0 * n_up * n_down - (n_up + n_down)) > 0 THEN
         CAST(floor((n_runs - (2.0 * n_up * n_down /
           (n_up + n_down) + 1.0)) * 1000.0 /
          sqrt((2.0 * n_up * n_down *
           (2.0 * n_up * n_down - (n_up + n_down))) /
           (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down) *
            (n_up + n_down - 1)))) AS BIGINT) END AS z_milli
FROM g
ORDER BY event_type
"""


def phi_coefficient_by_group(
    df: DataFrame,
    group_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """``(group_col, a, b, c, d, phi_milli)`` per group — the phi /
    Matthews correlation of two 0/1 indicators, the [-1, 1]-bounded
    effect-size companion to ``odds_ratio_by_group`` (same four
    conditional sums; an OR far from 1 with phi near 0 means a real
    but tiny association — the base-rate trap).

    ``phi = (a*d - b*c) / sqrt((a+b)(c+d)(a+c)(b+d))``; the numerator
    is n²-scaled and runs in DECIMAL(38,0) (HUGEINT in the twin — the
    r10 overflow-audit rule), the tail is one fixed IEEE tree. NULL
    when any margin is empty. One map-side-combinable aggregate.
    """
    e = F.col(exposure_col)
    o = F.col(outcome_col)
    g = df.groupBy(group_col).agg(
        F.sum(e * o).cast("long").alias("a"),
        F.sum(e * (1 - o)).cast("long").alias("b"),
        F.sum((1 - e) * o).cast("long").alias("c"),
        F.sum((1 - e) * (1 - o)).cast("long").alias("d"),
    )
    return (
        g.withColumn(
            "phi_milli",
            F.expr(
                "CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0"
                " AND b + d > 0 THEN "
                "CAST(floor(CAST(CAST(a AS DECIMAL(38,0)) * d"
                " - CAST(b AS DECIMAL(38,0)) * c AS DOUBLE) * 1000.0"
                " / sqrt((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)"
                "        * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d)))"
                " AS BIGINT) END"
            ),
        )
        .orderBy(group_col)
    )


def phi_coefficient_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: the phi effect size of urgent priority vs
    big order value — the bounded companion to the odds-ratio entry on
    the identical 2x2 frame."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("exposed"),
        (F.col("o_totalprice") > 200000).cast("int").alias("big"),
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "exposed", "big")
    return phi_coefficient_by_group(j, "c_mktsegment", "exposed", "big")


PHI_COEFFICIENT_SQL = """
WITH j AS (
  SELECT c_mktsegment,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS exposed,
         CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS big
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT c_mktsegment,
         CAST(sum(exposed * big) AS BIGINT) AS a,
         CAST(sum(exposed * (1 - big)) AS BIGINT) AS b,
         CAST(sum((1 - exposed) * big) AS BIGINT) AS c,
         CAST(sum((1 - exposed) * (1 - big)) AS BIGINT) AS d
  FROM j GROUP BY 1
)
SELECT c_mktsegment, a, b, c, d,
       CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
       THEN CAST(floor(CAST(CAST(a AS HUGEINT) * d
              - CAST(b AS HUGEINT) * c AS DOUBLE) * 1000.0
            / sqrt((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
                   * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d)))
            AS BIGINT) END AS phi_milli
FROM g
ORDER BY c_mktsegment
"""
