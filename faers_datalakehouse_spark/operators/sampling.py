"""Exact distributed prefix sums + systematic weighted sampling.

Training-data pipelines constantly need "take a weighted sample of the
corpus, deterministically": balance a mixture, downsample an over-
represented source, or build a fixed-token-budget subset. Random
reservoir methods are irreproducible across partitionings; *systematic
sampling* over the cumulative weight axis is the classic survey-
statistics answer (fixed step, deterministic phase): walk the running
total of weights and emit every row whose weight interval crosses a
multiple of ``step``. Selection probability is proportional to weight
(rows heavier than ``step`` are always selected), the output is
identical for any partitioning, and the whole thing is expressible as
one exact integer prefix sum.

The prefix sum itself is the interesting distributed primitive: a naive
``sum() OVER (ORDER BY key)`` is a single-partition window — the whole
corpus through one task (the classic 100 TB killer). The textbook
two-phase shape (Blelloch scan) instead:

1. bucket rows by a key-derived range (``floor(key / bucket_size)``) —
   deterministic, no sampling (unlike ``repartitionByRange``, whose
   boundaries come from a random sample and would change run to run);
2. per-bucket running sums via a window partitioned BY BUCKET (each
   task sees one bucket's rows, never the corpus);
3. per-bucket totals (n_buckets rows, thousands at 100 TB) get their
   exclusive running offsets via a window over the TINY totals frame —
   the only single-partition stage, sized n_buckets, not n_rows;
4. broadcast-join the offsets back and add.

Everything is exact int64 arithmetic on integer weights, so DuckDB
reproduces every running total and every selected row bit-for-bit
(``systematic_sample_oracle_sql`` uses the plain single-node
``sum() OVER`` — same answer, different physical plan, which is the
point).

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table


def _hash_bucket(id_col: Column, n: int) -> Column:
    """Engine-portable deterministic bucket in [0, n): md5 of the id's
    string form, low 8 hex digits as an integer. (xxhash64 would be faster
    JVM-side but has no DuckDB twin; md5 is shared vocabulary.)"""
    return F.pmod(
        F.conv(F.substring(F.md5(id_col.cast("string")), 25, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n),
    )


def deterministic_split(
    df: DataFrame,
    id_col: str,
    fractions: Sequence[tuple[str, int]] = (("train", 96), ("val", 2), ("test", 2)),
) -> DataFrame:
    """Assign each row a split label with the given percentage weights
    (must sum to 100). Pure projection — membership depends only on the id,
    so splits are stable across runs, partitionings, and engines
    (``randomSplit`` is neither).
    """
    total = sum(w for _, w in fractions)
    if total != 100:
        raise ValueError(f"fractions must sum to 100, got {total}")
    # NULL ids hash as a sentinel instead of falling through every
    # when-branch with split=NULL (rows silently in NO split)
    bucket = _hash_bucket(
        F.coalesce(F.col(id_col).cast("string"), F.lit("\0NULL")), 100
    )
    expr = None
    upper = 0
    for label, weight in fractions:
        upper += weight
        cond = bucket < upper
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn("split", expr)


def stratified_cap(
    df: DataFrame,
    strata_cols: Sequence[str],
    id_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum, selected by hash order.

    Hash-ordered selection (not arrival order) makes the sample a pure
    function of the data; the per-stratum window is the standard one-shuffle
    balanced-downsampling plan. Heavily-skewed strata cost what any keyed
    window costs — AQE's problem, same as every groupBy.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        _hash_bucket(F.col(id_col), 1_000_000_007), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    bucket_size: int = 4096,
) -> DataFrame:
    """Add ``out_col`` = exact inclusive running sum of ``value_col`` in
    ``order_col`` order (int64). ``order_col`` must be a unique numeric
    key (doc ids, event ids); ``bucket_size`` trades per-task window
    size against the size of the totals frame — at 100 TB pick it so
    ``max(key)/bucket_size`` is in the tens of thousands.
    """
    key = F.col(order_col)
    bucket = F.floor(key / F.lit(bucket_size)).alias("_bucket")
    rows = df.withColumn("_bucket", bucket)
    in_bucket = Window.partitionBy("_bucket").orderBy(order_col)
    rows = rows.withColumn(
        "_local", F.sum(F.col(value_col).cast("long")).over(in_bucket)
    )
    totals = rows.groupBy("_bucket").agg(
        F.sum(F.col(value_col).cast("long")).alias("_btotal")
    )
    # exclusive scan over the totals frame: single-partition window, but
    # over n_buckets rows (KBs), never the corpus
    over_buckets = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btotal").over(over_buckets), F.lit(0)).alias(
            "_offset"
        ),
    )
    return (
        rows.join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_bucket", "_local", "_offset")
    )


def systematic_sample(
    df: DataFrame,
    weight_col: str,
    step: int,
    order_col: str,
    phase: int = 0,
    bucket_size: int = 4096,
) -> DataFrame:
    """Systematic weighted sample: emit every row whose cumulative-weight
    interval ``(cum - w, cum]`` contains a selection point
    ``phase + i*step``. Weights must be positive int64; expected sample
    size is ``total_weight / step``; rows with ``w >= step`` are always
    selected. Deterministic for any partitioning.
    """
    if step <= 0:
        raise ValueError(f"step must be positive, got {step}")
    if not 0 <= phase < step:
        raise ValueError(f"phase must be in [0, step), got {phase}")
    cum = prefix_sum(
        df, order_col, weight_col, out_col="_cum", bucket_size=bucket_size
    )
    # selection points strictly inside (cum-w, cum]:
    #   floor((cum - phase)/step) > floor((cum - w - phase)/step)
    # (integer division; phase shift keeps everything >= -phase > -step,
    # and Spark/DuckDB `div` both truncate toward zero — keep operands
    # non-negative by adding one step of headroom)
    # true int64 division on both sides (never a double: running totals
    # past 2^53 would lose bits through a float path)
    lhs = F.expr(f"(_cum - {phase} + {step}) div {step}")
    rhs = F.expr(
        f"(_cum - cast({weight_col} as bigint) - {phase} + {step}) "
        f"div {step}"
    )
    picked = cum.filter(lhs > rhs)
    return picked.withColumnRenamed("_cum", "running_total")


PREFIX_SUM_SQL_TEMPLATE = """
SELECT {cols},
       CAST(sum({value_col}) OVER (ORDER BY {order_col}
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_total
FROM {table}
"""


SYSTEMATIC_SAMPLE_SQL_TEMPLATE = """
WITH cum AS (
  SELECT {cols},
         CAST(sum({weight_col}) OVER (ORDER BY {order_col}
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_total
  FROM {table}
)
SELECT * FROM cum
WHERE (running_total - {phase} + {step}) // {step}
      > (running_total - {weight_col} - {phase} + {step}) // {step}
"""


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 64,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via priority
    sampling (Duffield–Lund–Thorup 2007): each row gets priority
    ``u / w`` where ``u`` is a deterministic 32-bit uniform derived from
    the id (the shared md5 bucket hash) and ``w`` its positive integer
    weight; the ``k`` smallest priorities win. Inclusion probability is
    proportional to weight; the sample is identical across runs,
    partitionings, and engines (``randomSplit``/``rand()`` are neither),
    which is what reproducible corpus subsampling needs.

    Scale shape: a pure projection computes priorities, then ONE
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject (per-
    partition heaps + a k-row driver merge), never a global sort. The
    priority is one exactly-rounded IEEE division of exact integers, so
    the DuckDB twin reproduces the selection AND the priority values
    bit-for-bit. Rows with weight <= 0 or NULL are excluded (they have
    no sampling mass). Ties (same priority) break on the id, making the
    cut deterministic even for duplicate (hash, weight) pairs.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 25, 8), 16, 10
    ).cast("long")
    pri = u.cast("double") / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            pri.alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(k)
    )


def priority_sample_oracle_sql(k: int = 64) -> str:
    """DuckDB twin over documents (weight = n_chars)."""
    return f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT
            AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority, doc_id
LIMIT {int(k)}
"""


def priority_sample_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry: 64-doc weighted sample of the corpus, weight =
    document length (proportional-to-size, the token-budget case)."""
    docs = read_table(spark, sf_dir, "documents")
    return priority_sample(docs, "doc_id", "n_chars", k=64)
