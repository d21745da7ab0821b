"""Deterministic mergeable sketches: HyperLogLog registers and count-min.

At 100 TB, exact ``COUNT(DISTINCT)`` and exact per-key frequencies over
high-cardinality columns force full shuffles of the key space; sketches
replace them with fixed-size mergeable state (KBs) built in one pass with
map-side combine. Spark's built-ins (``approx_count_distinct``,
HyperLogLogPlus) are opaque JVM state — fine in production but
unverifiable cross-engine. These implementations make the *sketch state
itself* deterministic (md5-derived hashes, integer-exact register math),
so a DuckDB oracle reproduces every register bit-for-bit and the
correctness gate covers the approximate path, not just its API.

Scale shape, both sketches: one narrow projection per row followed by a
``groupBy`` whose partial aggregation collapses each partition to at most
``m`` (HLL) or ``depth x width`` (CMS) rows before the shuffle — network
cost is sketch-sized regardless of input rows. Merging two sketches is
the same ``groupBy max`` / ``groupBy sum``, which is what makes them
distributable and streamable (foreachBatch-foldable like
``operators.matview``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex_int(col: Column, start: int, length: int = 8) -> Column:
    """An unsigned integer from ``length`` hex chars of md5 — the repo's
    portable-hash idiom (DuckDB twin: ``('0x'||substr(md5(x),s,l))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), start, length), 16, 10).cast("long")


# -- HyperLogLog ----------------------------------------------------------


def hll_sketch(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """Sparse HyperLogLog registers for the values of ``col``:
    ``(bucket, max_rank)`` with ``2**p`` possible buckets (absent bucket
    == rank 0). Deterministic: bucket and rank both derive from md5, and
    the register is an integer max — bit-identical on any engine and
    under any row order/partitioning.

    rank = leading zeros of a 32-bit hash + 1, computed integer-exactly
    as ``33 - bit_length(w)`` (no floating point, no libm).
    """
    return hll_sketch_grouped(df, [], col, p)


def hll_sketch_grouped(
    df: DataFrame, group_cols: list[str], col: str, p: int = 8
) -> DataFrame:
    """Per-group sparse HLL registers: ``group_cols + (bucket, max_rank)``
    — the production shape for "distinct users per segment" at 100 TB:
    one groupBy whose shuffle carries at most ``2**p`` rows per group
    (after map-side partial max), instead of shuffling every raw
    (group, user) pair for an exact distinct."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    m = 1 << p
    s = F.col(col).cast("string")
    w = _hex_int(s, 9)
    rank = F.when(w == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(w))
    )
    return (
        df.select(
            *group_cols,
            F.pmod(_hex_int(s, 1), F.lit(m)).alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate_grouped(
    registers: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Cardinality estimate per group, fully engine-side (no collect):
    the harmonic sum's terms are dyadic rationals (2^-rank), so the
    double sum is EXACT and order-independent; only the final log in the
    small-range correction is real floating point. Columns:
    ``group_cols + (estimate,)``."""
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("_harm_present"),
        F.count(F.lit(1)).alias("_present"),
    )
    harm = F.col("_harm_present") + (F.lit(m) - F.col("_present"))
    zeros = F.lit(m) - F.col("_present")  # sparse: absent bucket == rank 0
    raw = F.lit(alpha * m * m) / harm
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias("estimate"))


def hll_grouped_oracle_sql(
    source_expr: str, group_exprs: str, table: str, p: int = 8
) -> str:
    """DuckDB twin of ``hll_sketch_grouped`` (register state only — the
    estimate's log is libm-dependent and stays pytest-bounded)."""
    m = 1 << p
    return f"""
SELECT {group_exprs}, bucket, max(rank) AS max_rank FROM (
  SELECT {group_exprs},
         ('0x' || substr(md5(CAST({source_expr} AS VARCHAR)), 1, 8))::BIGINT
           % {m} AS bucket,
         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rank
  FROM (
    SELECT {group_exprs}, {source_expr},
           ('0x' || substr(md5(CAST({source_expr} AS VARCHAR)), 9, 8))::BIGINT
             AS w
    FROM {table}
  )
) GROUP BY {group_exprs}, bucket
ORDER BY {group_exprs}, bucket
"""


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two register sets: the sketch of the combined input —
    exactly (register-for-register), not approximately."""
    return (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> float:
    """Cardinality estimate from a register frame (Flajolet et al. 2007,
    with the small-range linear-counting correction). Collects at most
    ``2**p`` rows — bounded driver state, like the k-means centroid
    collect. Relative error ~= 1.04 / sqrt(2**p)."""
    m = 1 << p
    rows = registers.collect()
    ranks = {r["bucket"]: r["max_rank"] for r in rows}
    zeros = m - sum(1 for v in ranks.values() if v > 0)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    harm = sum(2.0 ** -v for v in ranks.values()) + (m - len(ranks)) * 1.0
    raw = alpha * m * m / harm
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


def hll_oracle_sql(source_expr: str, table: str, p: int = 8) -> str:
    """DuckDB twin producing the identical register frame."""
    m = 1 << p
    return f"""
SELECT bucket, max(rank) AS max_rank FROM (
  SELECT ('0x' || substr(md5(CAST({source_expr} AS VARCHAR)), 1, 8))::BIGINT
           % {m} AS bucket,
         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rank
  FROM (
    SELECT {source_expr},
           ('0x' || substr(md5(CAST({source_expr} AS VARCHAR)), 9, 8))::BIGINT
             AS w
    FROM {table}
  )
) GROUP BY bucket ORDER BY bucket
"""


# -- Count-min ------------------------------------------------------------


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: ``(row, col, cnt)``
    registers, ``depth`` independent md5-salted hash rows of ``width``
    columns (absent register == 0). Point estimates are biased up only
    (collisions add, never subtract): ``cms_point`` >= true count, with
    error <= e/width * N at confidence 1 - e^-depth."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row")
    exploded = df.select(F.col(key_col).cast("string").alias("_k"), rows)
    col = F.pmod(
        _hex_int(F.concat_ws(":", F.col("row"), F.col("_k")), 1),
        F.lit(width),
    )
    return (
        exploded.select("row", col.alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_point(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimated count per key in ``keys``: min over the ``depth``
    registers each key hashes to. The sketch side is at most
    ``depth x width`` rows — broadcast it; the probe is then one
    broadcast join + groupBy min, no shuffle of ``keys``."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row")
    probes = keys.select(F.col(key_col).cast("string").alias("_k"), rows)
    probes = probes.withColumn(
        "col",
        F.pmod(_hex_int(F.concat_ws(":", F.col("row"), F.col("_k")), 1),
               F.lit(width)),
    )
    joined = probes.join(
        F.broadcast(sketch), on=["row", "col"], how="left"
    ).withColumn("cnt", F.coalesce("cnt", F.lit(0)))
    return (
        joined.groupBy("_k")
        .agg(F.min("cnt").alias("est_count"))
        .withColumnRenamed("_k", key_col)
    )


def cms_point_oracle_sql(
    source_expr: str, table: str, keys_sql: str, depth: int = 4,
    width: int = 256,
) -> str:
    """DuckDB twin of ``cms_build`` + ``cms_point`` over ``keys_sql``
    (a query yielding one VARCHAR column ``k``)."""
    return f"""
WITH rows_n AS (SELECT * FROM generate_series(0, {depth - 1}) AS t(row)),
sketch AS (
  SELECT row,
         ('0x' || substr(md5(row || ':' || CAST({source_expr} AS VARCHAR)),
                         1, 8))::BIGINT % {width} AS col,
         count(*) AS cnt
  FROM {table}, rows_n
  GROUP BY 1, 2
),
probes AS (
  SELECT k.k AS key, r.row,
         ('0x' || substr(md5(r.row || ':' || k.k), 1, 8))::BIGINT % {width}
           AS col
  FROM ({keys_sql}) k, rows_n r
)
SELECT p.key, min(coalesce(s.cnt, 0)) AS est_count
FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.col = s.col
GROUP BY p.key
"""


def hll_set_algebra(spark, sf_dir: str, p: int = 8):
    """Sketch set algebra — the register states behind a distinct-
    intersection estimate (|A∩B| ≈ est(A) + est(B) − est(A∪B),
    inclusion–exclusion over mergeable sketches). Emits the three
    register sets tagged by name: 'a' (click users), 'b' (purchase
    users), and 'union' — which is the register-wise MAX merge, the
    property that makes HLL distributable (sketch per day/partition,
    merge without rescanning). The driver oracle checks all three
    REGISTER STATES bit-for-bit; the numeric intersection estimate and
    its error bound are pytest-checked (its log correction is libm-
    dependent, per this module's convention).
    """
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    a = hll_sketch(
        events.where(F.col("event_type") == "click"), "user_id", p
    )
    b = hll_sketch(
        events.where(F.col("event_type") == "purchase"), "user_id", p
    )
    u = hll_merge(a, b)
    tag = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("set_name"), "bucket", "max_rank"
    )
    return (
        tag(a, "a")
        .unionAll(tag(b, "b"))
        .unionAll(tag(u, "union"))
        .orderBy("set_name", "bucket")
    )


def hll_set_algebra_oracle_sql(p: int = 8) -> str:
    m = 1 << p

    def regs(pred: str) -> str:
        return f"""
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {m} AS bucket,
         max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END)
           AS max_rank
  FROM (
    SELECT user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS w
    FROM events WHERE {pred}
  ) GROUP BY 1
"""

    return f"""
SELECT 'a' AS set_name, bucket, max_rank FROM ({regs("event_type = 'click'")})
UNION ALL
SELECT 'b', bucket, max_rank FROM ({regs("event_type = 'purchase'")})
UNION ALL
SELECT 'union', bucket, max_rank
FROM ({regs("event_type IN ('click', 'purchase')")})
ORDER BY set_name, bucket
"""
