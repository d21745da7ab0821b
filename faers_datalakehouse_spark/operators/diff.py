"""Snapshot reconciliation diff: added / removed / changed / unchanged.

The data-diff primitive (Datafold-style): given two keyed snapshots of
a table — yesterday's load vs today's, a replica vs its source, or
pre- vs post-backfill — classify every key and emit a
compact, exact reconciliation summary. The row-level variant
(``table_diff_rows``) feeds repair jobs; the summary feeds monitors.

Scale shape: ONE full-outer hash join on the key (the canonical
shuffle for a keyed compare — co-partitioned on both sides, AQE-sized)
with each side pre-reduced to ``(key, fingerprint)`` — column pruning
pushes everything but key + compared columns out of the scan, so the
shuffle carries two longs-ish per row, not the row. The summary is a
4-row groupBy with map-side partials; nothing is collected.

Exactness: the fingerprint is md5 over ``coalesce(cast(col as
string), 'NULL')`` joined with ``||`` (the repo-wide ``row_hash``
idiom — identical byte stream in DuckDB, so fingerprints match
cross-engine); counts and key checksums are exact integers.
Fingerprint only string/integer/date columns — float-to-string
rendering is NOT cross-engine stable (repo float rule).

No counterpart in the reference (engine extension surface).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fingerprint(cols: Sequence[str]) -> Column:
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols
    ]
    return F.md5(F.concat_ws("||", *parts))


def table_diff_rows(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff: one row per key present in either snapshot,
    ``(*key_cols, status)`` with status in
    ``added`` (right only) / ``removed`` (left only) /
    ``changed`` / ``unchanged``."""
    lf = left.select(
        *[F.col(k).alias(f"_lk_{k}") for k in key_cols],
        _fingerprint(compare_cols).alias("_lfp"),
    )
    rf = right.select(
        *[F.col(k).alias(f"_rk_{k}") for k in key_cols],
        _fingerprint(compare_cols).alias("_rfp"),
    )
    cond = None
    for k in key_cols:
        c = lf[f"_lk_{k}"] == rf[f"_rk_{k}"]
        cond = c if cond is None else (cond & c)
    joined = lf.join(rf, cond, "full_outer")
    status = (
        F.when(F.col("_lfp").isNull(), F.lit("added"))
        .when(F.col("_rfp").isNull(), F.lit("removed"))
        .when(F.col("_lfp") == F.col("_rfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"_lk_{k}"), F.col(f"_rk_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
    )


def table_diff_summary(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """4-row reconciliation summary ``(status, n_rows, key_checksum)``
    — ``key_checksum`` is the exact sum of the first key column per
    status, a cheap content-addressable cross-check two engines (or
    two runs) can compare without moving rows."""
    rows = table_diff_rows(left, right, key_cols, compare_cols)
    return (
        rows.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(key_cols[0]).cast("long")).alias("key_checksum"),
        )
        .orderBy("status")
    )


def table_diff_oracle_sql(
    left_sql: str,
    right_sql: str,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> str:
    """DuckDB twin of ``table_diff_summary`` over two row-producing
    SQLs with identical schemas."""
    fp = (
        "md5(concat_ws('||', "
        + ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), 'NULL')" for c in compare_cols
        )
        + "))"
    )
    keys = ", ".join(key_cols)
    on = " AND ".join(f"l.{k} = r.{k}" for k in key_cols)
    k0 = key_cols[0]
    return f"""
WITH l AS (SELECT {keys}, {fp} AS fp FROM ({left_sql})),
r AS (SELECT {keys}, {fp} AS fp FROM ({right_sql})),
d AS (
  SELECT coalesce(l.{k0}, r.{k0}) AS k0,
         CASE WHEN l.fp IS NULL THEN 'added'
              WHEN r.fp IS NULL THEN 'removed'
              WHEN l.fp = r.fp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM l FULL OUTER JOIN r ON {on}
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k0) AS BIGINT) AS key_checksum
FROM d GROUP BY status ORDER BY status
"""
