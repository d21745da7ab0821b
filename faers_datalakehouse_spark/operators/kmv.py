"""KMV (k-minimum-values / bottom-k) distinct-count sketch — the
mergeable theta-sketch family's simplest member (Bar-Yossef et al. 2002;
Beyer et al., "On synopses for distinct-value estimation under multiset
operations", SIGMOD 2007): hash every value, keep the k smallest
distinct hashes; with the hash space normalized to [0, 1), the k-th
minimum m gives the unbiased estimate ``(k-1)/m``.

Exactness argument (why a sketch can be oracle-gated): the SKETCH is
deterministic even though its construction is partition-parallel —
pass 1 folds each partition's hashes through a capacity-k bottom-k
state (stateful Arrow kernel, no shuffle; ≤ k·groups rows of state);
the union of per-partition bottom-k sets is a SUPERSET of the global
bottom-k (any globally-small hash is small within its own partition),
so pass 2's rank over the tiny candidate union recovers the exact
global bottom-k — the same candidates-superset + exact-finish shape as
``heavy_hitters``. Hashes are the repo's portable md5 idiom, the
estimate is integer division over the 2^32 hash space, and the modal
``exact_distinct`` rides along via one ``rollup`` count-distinct (the
quality signal, same pattern as ``minhash_est_error``).

Scale shape (100 TB): pass 1 is map-side only; pass 2 shuffles
``k × n_partitions × groups`` candidate rows (KBs). The rollup
count-distinct is the expensive exact twin kept for auditability — at
production scale you'd drop it and trust the sketch (that is the
point); it is cheap at gate scale and makes the estimator error
measurable per group.

No counterpart in the reference repo (sketch extension surface,
alongside ``hll_sketch`` — HLL gives fixed-size registers, KMV gives
mergeable bottom-k sets that also support intersection/Jaccard via
the theta framework).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sketches import _hex_int
from ..sources.tables import read_table

_HASH_SPACE = 1 << 32  # 8 hex chars of md5


def _bottomk_kernel(k: int):
    def kernel(batches):
        import numpy as np
        import pandas as pd

        state: dict[str, "np.ndarray"] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for grp, sub in pdf.groupby("grp", sort=False):
                prev = state.get(grp)
                h = sub["h"].to_numpy(dtype="int64")
                merged = (
                    np.unique(np.concatenate([prev, h]))
                    if prev is not None
                    else np.unique(h)
                )
                state[grp] = merged[:k]
        if state:
            yield pd.DataFrame(
                {
                    "grp": np.repeat(
                        list(state.keys()),
                        [len(v) for v in state.values()],
                    ),
                    "h": np.concatenate(list(state.values())),
                }
            )

    return kernel


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV distinct estimate plus an 'ALL' union row:
    ``(grp, k, exact_distinct, kth_min, est_distinct, err_ppm)``
    ordered by grp. When a group has fewer than k distinct hashes the
    sketch IS the exact set and the estimate collapses to its size."""
    base = df.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(value_col).cast("string").alias("v"),
    )
    hashed = base.select("grp", _hex_int(F.col("v"), 1, 8).alias("h"))
    cands = hashed.mapInPandas(_bottomk_kernel(k), schema="grp string, h long")
    # the union row's bottom-k is recoverable from the per-group
    # candidates (each global minimum is minimal within its group too).
    # Emit (grp, h) and ('ALL', h) in ONE pass over the kernel output
    # (explode, r12): the self-union form ran the Arrow bottom-k kernel
    # — the whole corpus-hashing pass — once per branch.
    allc = cands.select(
        F.explode(F.array(F.col("grp"), F.lit("ALL"))).alias("grp"), "h"
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    ranked = allc.select(
        "grp",
        "h",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_nc"),
    )
    kth = ranked.where(
        F.col("_rn") == F.least(F.lit(k), F.col("_nc"))
    ).select(
        "grp",
        F.col("h").alias("kth_min"),
        F.when(F.col("_nc") < k, F.col("_nc"))
        .otherwise(F.expr(f"({k} - 1) * {_HASH_SPACE}L div h"))
        .cast("long")
        .alias("est_distinct"),
    )
    exact = (
        base.rollup("grp")
        .agg(F.countDistinct("v").alias("exact_distinct"))
        .select(
            F.coalesce(F.col("grp"), F.lit("ALL")).alias("grp"),
            "exact_distinct",
        )
    )
    return (
        kth.join(exact, "grp")
        .select(
            "grp",
            F.lit(k).cast("long").alias("k"),
            "exact_distinct",
            "kth_min",
            "est_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000000"
                " div exact_distinct"
            ).alias("err_ppm"),
        )
        .orderBy("grp")
    )


def kmv_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers per order priority (and overall)."""
    orders = read_table(spark, sf_dir, "orders")
    return kmv_distinct(orders, "o_orderpriority", "o_custkey", k=64)


def kmv_oracle_sql(
    table: str = "orders",
    group_col: str = "o_orderpriority",
    value_col: str = "o_custkey",
    k: int = 64,
) -> str:
    return f"""
WITH base AS (
  SELECT CAST({group_col} AS VARCHAR) AS grp,
         CAST({value_col} AS VARCHAR) AS v
  FROM {table}
),
stacked AS (
  SELECT grp, v FROM base
  UNION ALL SELECT 'ALL', v FROM base
),
hashed AS (
  SELECT DISTINCT grp,
         ('0x' || substr(md5(v), 1, 8))::BIGINT AS h
  FROM stacked
),
ranked AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY grp) AS nc
  FROM hashed
),
kth AS (
  SELECT grp, h AS kth_min,
         CASE WHEN nc < {k} THEN nc
              ELSE ({k} - 1) * {_HASH_SPACE} // h END AS est_distinct
  FROM ranked WHERE rn = least({k}, nc)
),
exact AS (
  SELECT grp, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
  FROM stacked GROUP BY grp
)
SELECT t.grp,
       CAST({k} AS BIGINT) AS k,
       e.exact_distinct,
       CAST(t.kth_min AS BIGINT) AS kth_min,
       CAST(t.est_distinct AS BIGINT) AS est_distinct,
       CAST(abs(t.est_distinct - e.exact_distinct) * 1000000
            // e.exact_distinct AS BIGINT) AS err_ppm
FROM kth t JOIN exact e USING (grp)
ORDER BY t.grp
"""
