"""Z-order (Morton-curve) data layout — the OSS analog of Delta's
``OPTIMIZE ... ZORDER BY``.

The reference's platform exposes ZORDER clustering for multi-column
pruning; plain parquet gets the same effect from the layout alone:
sort-cluster rows by the interleaved bits of two columns and parquet
row-group/file min-max stats become narrow on BOTH columns, so filter
pushdown skips most of the table for predicates on either one — a
single-column sort only prunes its own column.

``z_value`` interleaves the low ``bits`` of two non-negative integer
expressions with plain shift/mask arithmetic — one JVM-side projection
(whole-stage codegen), identical in DuckDB, so the curve itself is
oracle-checkable. Columns with arbitrary ranges should be rank-bucketed
to ``[0, 2^bits)`` first (``bucketize`` below does equi-width over an
observed min/max; production layouts use quantile buckets, same shape).

``VersionedTable.optimize_zorder`` lays a table out on the curve:
compute z → ``repartitionByRange(_z)`` (range exchange: samples
boundaries, no driver data) → sort within partitions → write. Each
output file then covers a tight z-range = a small axis-aligned region of
(x, y) space. Verified by ``tests/test_zorder.py`` measuring per-file
min-max spans against an unclustered write.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave of the low ``bits`` of two non-negative ints:
    bit i of ``x`` lands at position 2i, bit i of ``y`` at 2i+1."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        xbit = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
        acc = (
            acc
            + F.shiftleft(xbit, 2 * i)
            + F.shiftleft(ybit, 2 * i + 1)
        )
    return acc


def z_value_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`z_value` as a SQL expression string."""
    # BIGINT from the first shift: DuckDB evaluates bare ints as INT32,
    # so at bits=16 the `<< 31` term overflows ("Out of Range Error") and
    # larger sums overflow INT32 — the Spark twin casts to long up front
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def bucketize(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Equi-width bucket of ``col`` into ``[0, 2^bits)`` given observed
    bounds (pass min/max as literals or 1-row-broadcast columns)."""
    n = (1 << bits) - 1
    span = F.greatest(hi - lo, F.lit(1))
    # clamp BOTH ends: col < lo (stale/sampled bounds) yielded a negative
    # bucket whose sign-extended shifts produced a garbage Morton value —
    # the row landed in an arbitrary file and widened per-file spans
    return F.greatest(
        F.least(
            F.floor((col - lo) * n / span).cast("long"),
            F.lit(n).cast("long"),
        ),
        F.lit(0).cast("long"),
    )
