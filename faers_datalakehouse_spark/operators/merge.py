"""DataFrame-native MERGE (upsert/delete) — Delta ``MERGE INTO`` semantics
without a table-format dependency.

Parity: the reference executes SQL ``MERGE INTO`` against Delta tables
(``src/utils/scd_type2.py:177-215``) — the only operation in its surface that
OSS Parquet tables can't run directly. This operator reproduces the matched /
not-matched clause semantics as one full-outer join + projection, returning
the merged state for the caller to overwrite (or feed a format that supports
in-place commits).

Semantics (mirroring ``MERGE INTO target USING source ON keys``):
- ``WHEN MATCHED [AND cond] THEN UPDATE``  → source row replaces target row
- ``WHEN MATCHED [AND cond] THEN DELETE``  → row dropped
- ``WHEN NOT MATCHED THEN INSERT``         → source-only rows appended
- target-only rows pass through unchanged

Scale notes: one shuffle on the merge keys (or zero if both sides are
bucketed on them); the projection is a per-row ``when`` ladder. Duplicate
source keys are rejected up-front (the same constraint Delta enforces) via a
window count rather than a driver-side action.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cond: Column | None = None,
    delete_cond: Column | None = None,
    insert_cond: Column | None = None,
    validate_source_keys: bool = True,
) -> DataFrame:
    """Merge ``source`` into ``target`` on equality of ``keys``.

    Conditions are evaluated with target columns visible as ``t.<col>`` and
    source columns as ``s.<col>``. Default behavior with no conditions:
    classic upsert (matched → update, not matched → insert).
    """
    cols = target.columns
    if set(source.columns) != set(cols):
        raise ValueError(
            f"source/target column mismatch: {sorted(source.columns)} vs {sorted(cols)}"
        )

    if validate_source_keys:
        # Fail at execution time inside the plan (no extra action). The guard
        # is folded into a key column the merge join actually consumes —
        # a standalone guard column would be pruned away unevaluated.
        w = Window.partitionBy(*keys)
        k0 = keys[0]
        source = source.withColumn("_key_n", F.count(F.lit(1)).over(w))
        source = source.withColumn(
            k0,
            F.when(
                F.col("_key_n") > 1,
                F.raise_error(
                    # concat_ws, not concat: a NULL key value (which
                    # eqNullSafe treats as a real, matchable key) would
                    # NULL the whole message and lose the diagnostic
                    F.concat_ws(
                        " ",
                        F.lit("duplicate source keys in merge:"),
                        *[F.col(k).cast("string") for k in keys],
                    )
                ).cast(dict(source.dtypes)[k0]),
            ).otherwise(F.col(k0)),
        ).drop("_key_n")

    # Presence markers: lit(True) columns survive the full-outer join as
    # NULL exactly when that side is absent. Testing keys[0].isNotNull()
    # instead would silently drop rows whose merge key is legitimately NULL
    # (which eqNullSafe deliberately matches).
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    joined = t.join(
        s, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys], how="full"
    )
    t_present = F.col("t._t_present").isNotNull()
    s_present = F.col("s._s_present").isNotNull()
    matched = t_present & s_present

    upd = matched if update_cond is None else (matched & update_cond)
    # NULL-safe like SQL MERGE: a clause condition evaluating to NULL
    # means the clause is NOT taken — without the coalesce, keep = ~NULL
    # filtered matched rows out entirely (silent delete)
    dele = (
        F.lit(False)
        if delete_cond is None
        else (matched & F.coalesce(delete_cond, F.lit(False)))
    )
    ins = (~t_present & s_present) if insert_cond is None else (
        ~t_present & s_present & insert_cond
    )

    out_cols = []
    for c in cols:
        tc, sc = F.col(f"t.{c}"), F.col(f"s.{c}")
        # no when(dele, ...) arm: deleted rows never reach the select
        # (the keep filter below removes them first)
        out_cols.append(
            F.when(upd | ins, sc).otherwise(tc).alias(c)
        )
    keep = ~dele & (t_present | ins)
    return joined.filter(keep).select(*out_cols)
