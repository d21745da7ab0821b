"""Interval-overlap join (interval x interval) via grid cells with
canonical-cell deduplication.

``range_join`` (operators/ranges.py) handles point-in-interval; the
harder shape is interval x interval overlap (``a.start <= b.end AND
b.start <= a.end``) — calendars vs transit windows, session spans vs
incident windows, gene intervals. Spark plans the raw predicate as a
nested-loop/cartesian join: O(|L|·|R|).

The textbook fix (Overlap Interval Partition Join family; same binning
as Databricks' range-join optimization, extended to two replicated
sides): quantize the domain into width-``G`` cells, replicate EACH
interval onto every cell it spans (``explode(sequence(start div G,
end div G))``), equi-join on (cell [, extra keys]), then keep a pair
only in its CANONICAL cell — the cell containing ``greatest(a.start,
b.start)``, i.e. the first cell of the overlap region. Both intervals
provably have a replica there, and it is unique per pair, so no
``distinct`` pass is needed — the classic trick that keeps the join
output exactly the overlap pairs while every operator stays a plain
hash join + map-side explode.

Cost: |L| + |R| replicas scale with interval length / G (pick G near
the typical interval length); the join is hash-partitioned on
(cell, keys) like any equi-join — AQE handles cell skew. Nothing here
is corpus-quadratic unless the data genuinely contains that many
overlapping pairs.

No counterpart in the reference (engine extension surface).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import read_table


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    lstart: str,
    lend: str,
    rstart: str,
    rend: str,
    on: Sequence[str] = (),
    cell_width: int = 16,
) -> DataFrame:
    """Inner-join rows whose integer intervals [lstart, lend] and
    [rstart, rend] overlap (closed ends). Interval bounds must be
    integer-typed (quantize timestamps to epoch days/seconds first);
    malformed intervals (start > end) match nothing. Non-key column
    names must be disjoint across the two sides."""
    if cell_width < 1:
        raise ValueError("cell_width must be >= 1")
    on = list(on)
    shared = (set(left.columns) & set(right.columns)) - set(on)
    if shared:
        raise ValueError(
            "interval_overlap_join requires disjoint non-key column "
            f"names; shared: {sorted(shared)}"
        )
    g = F.lit(cell_width)

    def cell_of(col):
        # floor-division via double floor: exact for |values| < 2^53,
        # and correct (unlike cast-truncation) for negative bounds
        return F.floor(col / g).cast("long")

    def replicate(df: DataFrame, s: str, e: str) -> DataFrame:
        cells = F.sequence(cell_of(F.col(s)), cell_of(F.col(e)))
        return df.where(F.col(s) <= F.col(e)).select(
            "*", F.explode(cells).alias("_cell")
        )

    lrep = replicate(left, lstart, lend)
    rrep = replicate(right, rstart, rend).withColumnRenamed(
        "_cell", "_cell_r"
    )
    cond = F.col("_cell") == F.col("_cell_r")
    for k in on:
        cond = cond & (lrep[k] == rrep[k])
    ov_start = F.greatest(F.col(lstart), F.col(rstart))
    canonical = cell_of(ov_start)
    joined = lrep.join(rrep, cond).where(
        (F.col(lstart) <= F.col(rend))
        & (F.col(rstart) <= F.col(lend))
        & (F.col("_cell") == canonical)
    )
    return joined.drop("_cell", "_cell_r")


def transit_audit_overlaps(spark, sf_dir: str) -> DataFrame:
    """Showcase instance: lineitem transit windows [shipdate,
    receiptdate] overlap-joined against a derived mid-month audit
    calendar (days 10-14 of every month present in orders) — "which
    shipments were in transit during an audit window, and for how many
    days". The calendar is months-sized (broadcastable); intervals are
    quantized to epoch days; overlap_days is exact integer arithmetic.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.datediff("l_shipdate", F.lit("1970-01-01"))
        .cast("long")
        .alias("ship_d"),
        # the synthetic table carries no l_receiptdate; derive a
        # deterministic 0-27 day transit from the quantity digits
        (
            F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long")
            + F.round("l_quantity").cast("long") % 28
        ).alias("receipt_d"),
    )
    orders = read_table(spark, sf_dir, "orders")
    audits = (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .distinct()
        .select(
            "yr",
            "mo",
            F.datediff(
                F.make_date("yr", "mo", F.lit(10)), F.lit("1970-01-01")
            )
            .cast("long")
            .alias("audit_start"),
            F.datediff(
                F.make_date("yr", "mo", F.lit(14)), F.lit("1970-01-01")
            )
            .cast("long")
            .alias("audit_end"),
        )
    )
    out = interval_overlap_join(
        li, audits, "ship_d", "receipt_d", "audit_start", "audit_end"
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "yr",
        "mo",
        (
            F.least("receipt_d", "audit_end")
            - F.greatest("ship_d", "audit_start")
            + 1
        ).alias("overlap_days"),
    ).orderBy("l_orderkey", "l_linenumber", "yr", "mo", "overlap_days")


TRANSIT_AUDIT_OVERLAPS_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS ship_d,
         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           + CAST(round(l_quantity) AS BIGINT) % 28 AS receipt_d
  FROM lineitem
), audits AS (
  SELECT DISTINCT
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         CAST(make_date(CAST(year(o_orderdate) AS INT),
                        CAST(month(o_orderdate) AS INT), 10)
              - DATE '1970-01-01' AS BIGINT) AS audit_start,
         CAST(make_date(CAST(year(o_orderdate) AS INT),
                        CAST(month(o_orderdate) AS INT), 14)
              - DATE '1970-01-01' AS BIGINT) AS audit_end
  FROM orders
)
SELECT l_orderkey, l_linenumber, yr, mo,
       CAST(least(receipt_d, audit_end)
            - greatest(ship_d, audit_start) + 1 AS BIGINT) AS overlap_days
FROM li JOIN audits
  ON ship_d <= audit_end AND audit_start <= receipt_d
ORDER BY l_orderkey, l_linenumber, yr, mo, overlap_days
"""
