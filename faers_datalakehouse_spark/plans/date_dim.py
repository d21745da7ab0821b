"""Generated date dimension.

Parity: the reference generates a Type-1 date dimension with
``explode(sequence(to_date(start), to_date(end), interval 1 day))`` plus ~30
derived calendar attributes (``src/gold/dims/dim_date.py:40-158``). This is
the reference's only generator/lateral operator.

Spark-first: ``sequence`` + ``explode`` materializes the row set with no input
table and no shuffle; every attribute is a codegen'd projection. An ~11k-row
dimension is broadcast-joined against facts for free. The 32 attributes map
1:1 onto Spark SQL, so the projection is SQL text (``_ATTRIBUTES``): one
``selectExpr`` instead of hundreds of Column-API round trips to the JVM.

Attributes are restricted to those with exact ANSI-SQL twins (DuckDB
``generate_series`` + date parts) so the dimension itself is
oracle-verifiable; day-of-week uses ISO numbering (Monday=1) to avoid the
Spark-vs-DuckDB ``dayofweek`` origin mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.transforms import sql_literal

DEFAULT_START = "1995-01-01"
DEFAULT_END = "2030-12-31"


# ISO day of week: Monday=1 ... Sunday=7
_ISO_DOW = "(weekday(date_value) + 1)"

_ATTRIBUTES = (
    "year(date_value) * 10000 + month(date_value) * 100 + dayofmonth(date_value)"
    " AS date_key",
    "date_value",
    "year(date_value) AS year",
    "quarter(date_value) AS quarter",
    "concat('Q', CAST(quarter(date_value) AS STRING)) AS quarter_name",
    "month(date_value) AS month",
    "date_format(date_value, 'MMMM') AS month_name",
    "date_format(date_value, 'MMM') AS month_short_name",
    "dayofmonth(date_value) AS day_of_month",
    "dayofyear(date_value) AS day_of_year",
    f"{_ISO_DOW} AS iso_day_of_week",
    "date_format(date_value, 'EEEE') AS day_name",
    "date_format(date_value, 'EEE') AS day_short_name",
    "weekofyear(date_value) AS iso_week",
    "date_format(date_value, 'yyyy-MM-dd') AS date_string",
    "date_format(date_value, 'yyyyMMdd') AS date_string_compact",
    f"{_ISO_DOW} >= 6 AS is_weekend",
    f"{_ISO_DOW} <= 5 AS is_weekday",
    "dayofmonth(date_value) = 1 AS is_month_start",
    "date_value = last_day(date_value) AS is_month_end",
    "month(date_value) = 1 AND dayofmonth(date_value) = 1 AS is_year_start",
    "month(date_value) = 12 AND dayofmonth(date_value) = 31 AS is_year_end",
    "dayofmonth(last_day(date_value)) AS days_in_month",
    "CAST((dayofmonth(date_value) - 1) / 7 AS INT) + 1 AS week_of_month",
    "date_format(date_value, 'yyyy-MM') AS year_month",
    "concat(CAST(year(date_value) AS STRING), '-Q', CAST(quarter(date_value) AS STRING))"
    " AS year_quarter",
    "concat(CAST(year(date_value) AS STRING), '-W',"
    " lpad(CAST(weekofyear(date_value) AS STRING), 2, '0')) AS year_week",
    "year(date_value) % 4 = 0"
    " AND (year(date_value) % 100 != 0 OR year(date_value) % 400 = 0) AS is_leap_year",
    # Season + July-basis fiscal calendar + FAERS reporting period
    # (dim_date.py:109-156 parity).
    "CASE WHEN month(date_value) IN (12, 1, 2) THEN 'Winter'"
    " WHEN month(date_value) IN (3, 4, 5) THEN 'Spring'"
    " WHEN month(date_value) IN (6, 7, 8) THEN 'Summer'"
    " ELSE 'Fall' END AS season",
    "CASE WHEN month(date_value) >= 7 THEN year(date_value) + 1"
    " ELSE year(date_value) END AS fiscal_year",
    "CASE WHEN month(date_value) BETWEEN 7 AND 9 THEN 1"
    " WHEN month(date_value) BETWEEN 10 AND 12 THEN 2"
    " WHEN month(date_value) BETWEEN 1 AND 3 THEN 3"
    " ELSE 4 END AS fiscal_quarter",
    "CASE WHEN year(date_value) < 2010 THEN 'Pre-2010'"
    " WHEN year(date_value) BETWEEN 2010 AND 2015 THEN '2010-2015'"
    " WHEN year(date_value) BETWEEN 2016 AND 2020 THEN '2016-2020'"
    " ELSE '2021+' END AS reporting_period",
)


def build_date_dim(
    spark: SparkSession, start: str = DEFAULT_START, end: str = DEFAULT_END
) -> DataFrame:
    """One row per calendar day in [start, end], with derived attributes."""
    days = spark.range(1).selectExpr(
        f"explode(sequence(to_date({sql_literal(start)}), to_date({sql_literal(end)}),"
        " interval 1 day)) AS date_value"
    )
    return days.selectExpr(*_ATTRIBUTES)


DATE_DIM_ORACLE_SQL = """
SELECT
  CAST(year(d)*10000 + month(d)*100 + day(d) AS INTEGER) AS date_key,
  d                                                    AS date_value,
  CAST(year(d) AS INTEGER)                             AS year,
  CAST(quarter(d) AS INTEGER)                          AS quarter,
  'Q' || CAST(quarter(d) AS VARCHAR)                   AS quarter_name,
  CAST(month(d) AS INTEGER)                            AS month,
  strftime(d, '%B')                                    AS month_name,
  strftime(d, '%b')                                    AS month_short_name,
  CAST(day(d) AS INTEGER)                              AS day_of_month,
  CAST(dayofyear(d) AS INTEGER)                        AS day_of_year,
  CAST(isodow(d) AS INTEGER)                           AS iso_day_of_week,
  strftime(d, '%A')                                    AS day_name,
  strftime(d, '%a')                                    AS day_short_name,
  CAST(weekofyear(d) AS INTEGER)                       AS iso_week,
  strftime(d, '%Y-%m-%d')                              AS date_string,
  strftime(d, '%Y%m%d')                                AS date_string_compact,
  isodow(d) >= 6                                       AS is_weekend,
  isodow(d) <= 5                                       AS is_weekday,
  day(d) = 1                                           AS is_month_start,
  d = last_day(d)                                      AS is_month_end,
  (month(d) = 1 AND day(d) = 1)                        AS is_year_start,
  (month(d) = 12 AND day(d) = 31)                      AS is_year_end,
  CAST(day(last_day(d)) AS INTEGER)                    AS days_in_month,
  CAST((day(d) - 1) // 7 + 1 AS INTEGER)               AS week_of_month,
  strftime(d, '%Y-%m')                                 AS year_month,
  CAST(year(d) AS VARCHAR) || '-Q' || CAST(quarter(d) AS VARCHAR) AS year_quarter,
  CAST(year(d) AS VARCHAR) || '-W' || lpad(CAST(weekofyear(d) AS VARCHAR), 2, '0')
                                                       AS year_week,
  (year(d) % 4 = 0 AND (year(d) % 100 <> 0 OR year(d) % 400 = 0)) AS is_leap_year,
  CASE WHEN month(d) IN (12, 1, 2) THEN 'Winter'
       WHEN month(d) IN (3, 4, 5) THEN 'Spring'
       WHEN month(d) IN (6, 7, 8) THEN 'Summer'
       ELSE 'Fall' END                                 AS season,
  CAST(CASE WHEN month(d) >= 7 THEN year(d) + 1 ELSE year(d) END AS INTEGER)
                                                       AS fiscal_year,
  CAST(CASE WHEN month(d) BETWEEN 7 AND 9 THEN 1
            WHEN month(d) BETWEEN 10 AND 12 THEN 2
            WHEN month(d) BETWEEN 1 AND 3 THEN 3
            ELSE 4 END AS INTEGER)                     AS fiscal_quarter,
  CASE WHEN year(d) < 2010 THEN 'Pre-2010'
       WHEN year(d) BETWEEN 2010 AND 2015 THEN '2010-2015'
       WHEN year(d) BETWEEN 2016 AND 2020 THEN '2016-2020'
       ELSE '2021+' END                                AS reporting_period
FROM (
  SELECT CAST(unnest(generate_series(DATE '{start}', DATE '{end}',
                                     INTERVAL 1 DAY)) AS DATE) AS d
)
"""


def date_dim_oracle(start: str = DEFAULT_START, end: str = DEFAULT_END) -> str:
    return DATE_DIM_ORACLE_SQL.format(start=start, end=end)
