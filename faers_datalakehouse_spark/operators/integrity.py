"""Referential-integrity audit — FK orphan detection across table edges.

The warehouse data-quality primitive (dbt ``relationships`` test,
Deequ ``isContainedIn``): for each declared foreign-key edge, count the
child rows whose key has no parent. Each edge is ONE left join of the
child's key column against the parent's DISTINCT keys plus a conditional
count — no anti-join-then-recount double scan, no collect.

Scale shape (100 TB): the parent side is column-pruned to its key and
pre-aggregated to distinct values BEFORE the join, so small dimensions
(nation, region, supplier) broadcast and big ones shuffle once on the
key; the child side aggregates map-side into two longs per edge. Edges
are independent — Spark runs them as parallel stages under one union.

The audit runs every edge against its full parent (clean data: 0
orphans) plus one DEGRADED edge joining orders against a predicate-
filtered customer subset, which must report real orphans — proving the
probe actually detects missing parents rather than vacuously passing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table


def fk_orphans(
    child: DataFrame, fk_col: str, parent: DataFrame, pk_col: str, edge: str
) -> DataFrame:
    """One-row audit frame: (edge, fk_rows, orphans) for child.fk_col
    referencing parent.pk_col. NULL foreign keys count as rows but not
    as orphans (SQL FK semantics: NULL references nothing)."""
    keys = parent.select(
        F.col(pk_col).alias("_pk"), F.lit(True).alias("_hit")
    ).distinct()
    joined = child.select(F.col(fk_col).alias("_fk")).join(
        keys, F.col("_fk") == F.col("_pk"), "left"
    )
    return joined.agg(
        F.lit(edge).alias("edge"),
        F.count(F.lit(1)).alias("fk_rows"),
        F.count(
            F.when(F.col("_fk").isNotNull() & F.col("_hit").isNull(), 1)
        ).alias("orphans"),
    )


def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the TPC-H-ish FK graph + one deliberately degraded edge."""
    rd = lambda t: read_table(spark, sf_dir, t)  # noqa: E731
    orders, customer = rd("orders"), rd("customer")
    lineitem, part, supplier, nation = (
        rd("lineitem"),
        rd("part"),
        rd("supplier"),
        rd("nation"),
    )
    edges = [
        fk_orphans(orders, "o_custkey", customer, "c_custkey", "orders->customer"),
        fk_orphans(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        fk_orphans(lineitem, "l_partkey", part, "p_partkey", "lineitem->part"),
        fk_orphans(
            lineitem, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier"
        ),
        fk_orphans(customer, "c_nationkey", nation, "n_nationkey", "customer->nation"),
        fk_orphans(supplier, "s_nationkey", nation, "n_nationkey", "supplier->nation"),
        # degraded parent: customers outside BUILDING vanish -> real orphans
        fk_orphans(
            orders,
            "o_custkey",
            customer.where(F.col("c_mktsegment") != "BUILDING"),
            "c_custkey",
            "orders->customer[!BUILDING]",
        ),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out.orderBy("edge")


REFERENTIAL_AUDIT_SQL = """
WITH probe AS (
  SELECT 'orders->customer' AS edge, o_custkey AS fk, c_custkey AS pk
  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer)
    ON o_custkey = c_custkey
  UNION ALL
  SELECT 'lineitem->orders', l_orderkey, o_orderkey
  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders)
    ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'lineitem->part', l_partkey, p_partkey
  FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part)
    ON l_partkey = p_partkey
  UNION ALL
  SELECT 'lineitem->supplier', l_suppkey, s_suppkey
  FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier)
    ON l_suppkey = s_suppkey
  UNION ALL
  SELECT 'customer->nation', c_nationkey, n_nationkey
  FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation)
    ON c_nationkey = n_nationkey
  UNION ALL
  SELECT 'supplier->nation', s_nationkey, n_nationkey
  FROM supplier LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation)
    ON s_nationkey = n_nationkey
  UNION ALL
  SELECT 'orders->customer[!BUILDING]', o_custkey, c_custkey
  FROM orders LEFT JOIN (
    SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment <> 'BUILDING'
  ) ON o_custkey = c_custkey
)
SELECT edge,
       CAST(count(*) AS BIGINT) AS fk_rows,
       CAST(count(CASE WHEN fk IS NOT NULL AND pk IS NULL THEN 1 END)
            AS BIGINT) AS orphans
FROM probe
GROUP BY edge
ORDER BY edge
"""
