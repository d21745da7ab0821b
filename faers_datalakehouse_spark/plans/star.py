"""Star-schema fact assembly.

Parity: the reference's fact build (``src/gold/facts/fact_adverse_events.py:20-312``)
is a 7-table join chain — inner equi-joins to establish the grain, left
equi-joins for optional attributes, three expression joins to the date
dimension (``to_date(col,'yyyyMMdd') == date_value``), then a wide projection
with coalesce defaults, decimal measure casts, decode ladders, a weighted
score, and a data-quality tier (J1-J7, P1-P7, §2.7).

Here the same operator chain is instantiated on the TPC-H-ish testdata
(FIXTURES.md §C): ``lineitem`` is the grain carrier (drug×reaction analog),
``orders``/``customer`` the report/demographics analogs, ``part``/``supplier``
optional attribute dims, ``nation``/``region`` the geography ladder, and the
generated date dimension joined by expression.

Scale design:
- The only large-×-large join is lineitem⋈orders — a shuffle hash/sort-merge
  join on the natural key; AQE handles skew. At 100 TB you would bucket both
  by orderkey to make it shuffle-free; the plan shape here already co-locates
  all subsequent joins on the same key.
- Truly small dimension sides (nation, region, part, supplier, date_dim) are
  broadcast — ``F.broadcast`` hints make that explicit rather than relying on
  size estimation. Customer is NOT hinted: at TPC-H proportions it is ~1/40
  of lineitem, so at 100 TB a forced broadcast would be multi-TB → OOM; AQE
  decides at runtime (broadcast at small SF, shuffle join at scale, already
  co-located on the orderkey partitioning from the previous join).
- Measures that feed exact aggregation are rounded-then-DECIMAL per row so
  downstream sums are order-independent (oracle-comparable at any parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.transforms import (
    bucketize,
    bucketize_sql,
    decode_ladder,
    decode_ladder_sql,
)
from ..sources.tables import read_table
from .date_dim import build_date_dim

ORDER_PRIORITY_DECODE = {
    "1-URGENT": "Critical",
    "2-HIGH": "High",
    "3-MEDIUM": "Medium",
    "4-NOT SPECIFIED": "Unspecified",
    "5-LOW": "Low",
}

ORDER_STATUS_DECODE = {"O": "Open", "F": "Fulfilled", "P": "Partial"}

MKTSEGMENT_DECODE = {
    "AUTOMOBILE": "Automotive",
    "BUILDING": "Construction",
    "FURNITURE": "Home Goods",
    "HOUSEHOLD": "Consumer",
    "MACHINERY": "Industrial",
}

RETURN_FLAG_DECODE = {"R": "Returned", "A": "Accepted", "N": "None"}


def build_fact_sales(
    spark: SparkSession,
    sf_dir: str,
    with_date_dim: bool = True,
) -> DataFrame:
    """Assemble the wide sales fact (one row per lineitem)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")

    # J1/J2 — inner equi-joins fixing the grain (large side stays partitioned
    # on orderkey through the chain).
    fact = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "inner"
    ).join(customer, orders.o_custkey == customer.c_custkey, "inner")

    # J3/J4 — left equi-joins for optional attribute dims (broadcast).
    fact = fact.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey, "left"
    ).join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey, "left")

    # J5/J6 — geography ladder off the customer (broadcast snowflake).
    fact = fact.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")

    # J7 — expression join to the generated date dimension:
    # to_date(o_orderdate) == date_value (Catalyst normalizes to an equi-join).
    if with_date_dim:
        dd = build_date_dim(spark).selectExpr(
            "date_key",
            "date_value",
            "year AS order_year",
            "quarter_name AS order_quarter",
            "is_weekend AS ordered_on_weekend",
        )
        fact = fact.join(
            F.broadcast(dd), F.to_date(orders.o_orderdate) == dd.date_value, "left"
        )

    cols = list(_FACT_COLUMNS)
    if with_date_dim:
        cols += [
            "date_key AS order_date_key",
            "order_year",
            "order_quarter",
            "ordered_on_weekend",
        ]
    # one selectExpr: SQL text costs one parse per column, where the same
    # projection in the Column API costs a few JVM round trips per node
    return fact.selectExpr(*cols)


# Scaled-integer money math: the testdata's money columns are exact
# 2-decimal values, so round(x*100)→BIGINT is exact and every derived
# measure below is integer arithmetic divided back to double at the end —
# order-independent and engine-identical (see analytics.py module doc).
# The D suffix keeps the divisors DOUBLE (a bare 10000.0 parses as DECIMAL).
_PRICE_C = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DISC_PCT = "CAST(round(l_discount * 100) AS BIGINT)"
_TAX_PCT = "CAST(round(l_tax * 100) AS BIGINT)"
_QTY = "CAST(round(l_quantity) AS BIGINT)"

_FACT_COLUMNS = (
    "l_orderkey AS order_key",
    "l_linenumber AS line_number",
    "l_partkey AS part_key",
    "l_suppkey AS supp_key",
    "o_custkey AS cust_key",
    "to_date(o_orderdate) AS order_date",
    "to_date(l_shipdate) AS ship_date",
    "datediff(l_shipdate, o_orderdate) AS ship_delay_days",
    # Decimal casts of RAW 2dp doubles (measure-cast parity,
    # fact_adverse_events.py:204-222), round-tripped back to DOUBLE for
    # the driver-compared projection: Spark surfaces DECIMAL as
    # decimal.Decimal while DuckDB's client lands float64, so the hash
    # diverges on encoding even when values match. The round-trip is
    # exact for 2dp/4dp-valued sources.
    "CAST(CAST(l_quantity AS DECIMAL(8,2)) AS DOUBLE) AS quantity",
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price",
    "CAST(CAST(l_discount AS DECIMAL(5,4)) AS DOUBLE) AS discount_rate",
    "CAST(CAST(l_tax AS DECIMAL(5,4)) AS DOUBLE) AS tax_rate",
    f"CAST({_PRICE_C} * (100 - {_DISC_PCT}) AS DOUBLE) / 10000.0D AS revenue",
    f"CAST({_PRICE_C} * (100 - {_DISC_PCT}) * ({_TAX_PCT} + 100) AS DOUBLE)"
    " / 1000000.0D AS charge",
    f"CAST({_PRICE_C} * {_DISC_PCT} AS DOUBLE) / 10000.0D AS discount_amount",
    # Weighted composite score (clinical_risk_score analog,
    # fact_adverse_events.py:288-295): deterministic integer arithmetic.
    f"CAST({_DISC_PCT} * 4 + {_TAX_PCT} * 3 + least({_QTY} * 2, 100) * 3 AS DOUBLE)"
    " / 100.0D AS sales_score",
    decode_ladder_sql("l_returnflag", RETURN_FLAG_DECODE) + " AS return_status",
    "l_linestatus AS line_status",
    decode_ladder_sql("o_orderstatus", ORDER_STATUS_DECODE) + " AS order_status",
    decode_ladder_sql("o_orderpriority", ORDER_PRIORITY_DECODE) + " AS priority_tier",
    "coalesce(c_name, 'UNKNOWN') AS customer_name",
    decode_ladder_sql("c_mktsegment", MKTSEGMENT_DECODE) + " AS market_segment",
    bucketize_sql(
        "c_acctbal", [0.0, 1000.0, 5000.0], ["Delinquent", "Low", "Medium", "High"]
    )
    + " AS account_tier",
    "coalesce(p_name, 'UNKNOWN PART') AS part_name",
    "coalesce(p_brand, 'UNKNOWN') AS part_brand",
    "coalesce(s_name, 'UNKNOWN SUPPLIER') AS supplier_name",
    "coalesce(n_name, 'UNKNOWN') AS customer_nation",
    "coalesce(r_name, 'UNKNOWN') AS customer_region",
    # Data-quality tier ladder (fact_adverse_events.py:268-281 analog).
    "CASE WHEN p_partkey IS NOT NULL AND s_suppkey IS NOT NULL THEN 'Complete'"
    " WHEN p_partkey IS NOT NULL THEN 'Partial' ELSE 'Minimal' END"
    " AS data_quality_tier",
)


FACT_SALES_ORACLE_SQL = """
WITH date_dim AS (
  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2030-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS date_value
)
SELECT
  l.l_orderkey                                   AS order_key,
  l.l_linenumber                                 AS line_number,
  l.l_partkey                                    AS part_key,
  l.l_suppkey                                    AS supp_key,
  o.o_custkey                                    AS cust_key,
  CAST(o.o_orderdate AS DATE)                    AS order_date,
  CAST(l.l_shipdate AS DATE)                     AS ship_date,
  CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
       AS INTEGER)                               AS ship_delay_days,
  CAST(CAST(l.l_quantity AS DECIMAL(8,2)) AS DOUBLE)       AS quantity,
  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price,
  CAST(CAST(l.l_discount AS DECIMAL(5,4)) AS DOUBLE)       AS discount_rate,
  CAST(CAST(l.l_tax AS DECIMAL(5,4)) AS DOUBLE)            AS tax_rate,
  CAST(CAST(round(l.l_extendedprice*100) AS BIGINT)
       * (100 - CAST(round(l.l_discount*100) AS BIGINT)) AS DOUBLE) / 10000.0
                                                 AS revenue,
  CAST(CAST(round(l.l_extendedprice*100) AS BIGINT)
       * (100 - CAST(round(l.l_discount*100) AS BIGINT))
       * (100 + CAST(round(l.l_tax*100) AS BIGINT)) AS DOUBLE) / 1000000.0
                                                 AS charge,
  CAST(CAST(round(l.l_extendedprice*100) AS BIGINT)
       * CAST(round(l.l_discount*100) AS BIGINT) AS DOUBLE) / 10000.0
                                                 AS discount_amount,
  CAST(CAST(round(l.l_discount*100) AS BIGINT) * 4
       + CAST(round(l.l_tax*100) AS BIGINT) * 3
       + least(CAST(round(l.l_quantity) AS BIGINT) * 2, 100) * 3 AS DOUBLE) / 100.0
                                                 AS sales_score,
  CASE l.l_returnflag WHEN 'R' THEN 'Returned' WHEN 'A' THEN 'Accepted'
       WHEN 'N' THEN 'None' ELSE 'Unknown' END   AS return_status,
  l.l_linestatus                                 AS line_status,
  CASE o.o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Fulfilled'
       WHEN 'P' THEN 'Partial' ELSE 'Unknown' END AS order_status,
  CASE o.o_orderpriority WHEN '1-URGENT' THEN 'Critical' WHEN '2-HIGH' THEN 'High'
       WHEN '3-MEDIUM' THEN 'Medium' WHEN '4-NOT SPECIFIED' THEN 'Unspecified'
       WHEN '5-LOW' THEN 'Low' ELSE 'Unknown' END AS priority_tier,
  coalesce(c.c_name, 'UNKNOWN')                  AS customer_name,
  CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 'Automotive'
       WHEN 'BUILDING' THEN 'Construction' WHEN 'FURNITURE' THEN 'Home Goods'
       WHEN 'HOUSEHOLD' THEN 'Consumer' WHEN 'MACHINERY' THEN 'Industrial'
       ELSE 'Unknown' END                        AS market_segment,
  CASE WHEN c.c_acctbal IS NULL THEN 'Unknown'
       WHEN c.c_acctbal < 0.0 THEN 'Delinquent'
       WHEN c.c_acctbal < 1000.0 THEN 'Low'
       WHEN c.c_acctbal < 5000.0 THEN 'Medium'
       ELSE 'High' END                           AS account_tier,
  coalesce(p.p_name, 'UNKNOWN PART')             AS part_name,
  coalesce(p.p_brand, 'UNKNOWN')                 AS part_brand,
  coalesce(s.s_name, 'UNKNOWN SUPPLIER')         AS supplier_name,
  coalesce(n.n_name, 'UNKNOWN')                  AS customer_nation,
  coalesce(r.r_name, 'UNKNOWN')                  AS customer_region,
  CASE WHEN p.p_partkey IS NOT NULL AND s.s_suppkey IS NOT NULL THEN 'Complete'
       WHEN p.p_partkey IS NOT NULL THEN 'Partial'
       ELSE 'Minimal' END                        AS data_quality_tier,
  CAST(year(dd.date_value)*10000 + month(dd.date_value)*100 + day(dd.date_value)
       AS INTEGER)                               AS order_date_key,
  CAST(year(dd.date_value) AS INTEGER)           AS order_year,
  'Q' || CAST(quarter(dd.date_value) AS VARCHAR) AS order_quarter,
  isodow(dd.date_value) >= 6                     AS ordered_on_weekend
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN part p     ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
LEFT JOIN date_dim dd ON CAST(o.o_orderdate AS DATE) = dd.date_value
"""


def decode_ladders_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/§2.7 conditional showcase: decode + bucket orders×customer."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
    return joined.select(
        F.col("o_orderkey").alias("order_key"),
        decode_ladder("o_orderpriority", ORDER_PRIORITY_DECODE).alias("priority_tier"),
        decode_ladder("o_orderstatus", ORDER_STATUS_DECODE).alias("order_status"),
        decode_ladder("c_mktsegment", MKTSEGMENT_DECODE).alias("market_segment"),
        bucketize(
            "c_acctbal",
            [0.0, 1000.0, 5000.0],
            ["Delinquent", "Low", "Medium", "High"],
        ).alias("account_tier"),
        bucketize(
            "o_totalprice",
            [50000.0, 150000.0, 300000.0],
            ["Small", "Medium", "Large", "Jumbo"],
        ).alias("order_size_tier"),
    )
