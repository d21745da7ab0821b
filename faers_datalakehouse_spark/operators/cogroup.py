"""Cogrouped-map reconciliation — ``groupBy().cogroup().applyInPandas``.

The cogroup API is Spark's two-sided custom-merge primitive: both
inputs shuffle ONCE on a shared key and each co-bucket lands in a
single Python kernel as two aligned pandas frames — the shape for
reconciliation/CDC-merge/feature-join logic too imperative for a SQL
join. Here it audits the TPC-H ``o_totalprice`` invariant: each
order's header total vs the sum of its lines' ``extendedprice *
(1-discount) * (1+tax)``, in exact integer cents.

Scale shape: the cogroup key is a HASH BUCKET of the order key, not the
order key itself — one kernel invocation per bucket (vectorized pandas
groupby inside) instead of one per order, so Python invocation overhead
is O(buckets) while the work stays Arrow-batched and the shuffle stays
a plain hash partitioning both sides share. Raising ``buckets`` is the
only knob a 1000-executor run needs.

Cross-engine exactness: all cents are ``floor(x*100 + 0.5)`` of
left-associated double products — the identical IEEE expression chain
in the pandas kernel and the DuckDB oracle, so the audit deltas match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table

_SCHEMA = (
    "o_orderkey long, o_cents long, li_cents long, delta_cents long"
)


def _reconcile(left, right):
    li = (
        right.groupby("o_orderkey", as_index=False)["line_cents"]
        .sum()
        .rename(columns={"line_cents": "li_cents"})
    )
    out = left.merge(li, on="o_orderkey", how="left")
    out["li_cents"] = out["li_cents"].fillna(0).astype("int64")
    out["delta_cents"] = out["o_cents"] - out["li_cents"]
    return out[["o_orderkey", "o_cents", "li_cents", "delta_cents"]]


def order_reconciliation(
    spark: SparkSession, sf_dir: str, buckets: int = 64
) -> DataFrame:
    """Per-order header-vs-lines audit; returns every order with its
    exact cent delta. (On spec-conformant TPC-H the delta is rounding
    drift; this driver's synthetic headers are independent of the
    lines, so the audit surfaces real disagreement — which is the
    point of a reconciliation operator.)"""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "o_cents"
        ),
        (F.col("o_orderkey") % buckets).alias("bucket"),
    )
    lines = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
            " * 100 + 0.5) AS BIGINT)"
        ).alias("line_cents"),
        (F.col("l_orderkey") % buckets).alias("bucket"),
    )
    out = (
        orders.groupBy("bucket")
        .cogroup(lines.groupBy("bucket"))
        .applyInPandas(lambda lft, rgt: _reconcile(lft, rgt), _SCHEMA)
    )
    return out.orderBy("o_orderkey")


ORDER_RECONCILIATION_SQL = """
WITH li AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS li_cents
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
       coalesce(li.li_cents, 0) AS li_cents,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
         - coalesce(li.li_cents, 0) AS delta_cents
FROM orders o LEFT JOIN li USING (o_orderkey)
ORDER BY o.o_orderkey
"""
