"""Slowly Changing Dimension Type 2 — DataFrame-native merge.

Parity: the reference implements SCD2 with two Delta ``MERGE INTO`` statements
(``src/utils/scd_type2.py:111-226``): (1) ``ON business_keys AND
target.is_current`` — close changed rows / insert brand-new keys; (2) an
insert-only pass (``ON false``) adding the new versions of just-closed keys.
Change detection is an md5 row-hash over tracked columns; surrogate keys are
md5(business keys + effective date).

Spark-first rewrite (SURVEY.md §2.9): Delta MERGE is not required — the same
end-state is one full-outer join between the *current* slice of the target and
the deduplicated source, split three ways (unchanged / closed+new-version /
brand-new), unioned with untouched history. This is format-agnostic (works on
plain Parquet), testable against a SQL oracle, and runs as a single shuffle
on the business keys. At 100 TB you bucket the dimension by business key so
each merge is a co-partitioned join; history rows never re-shuffle because
they bypass the join entirely.

Determinism: the reference stamps ``current_date()``/``current_timestamp()``
inside the merge — untestable. Here the clock is an explicit
``effective_date`` parameter (the production caller passes today).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.transforms import row_hash, surrogate_key

HIGH_DATE = "9999-12-31"

SCD2_META_COLS = ("dim_key", "row_hash", "effective_date", "end_date", "is_current")


def one_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[Column | str] = (),
) -> DataFrame:
    """Deterministic one-row-per-key pick: the first row per ``keys`` under
    ``order_cols``, ties broken by a content hash of the whole row.

    ``dropDuplicates`` keeps an arbitrary, partition-order-dependent row
    when attributes differ across duplicates, which makes a dimension flap
    run-to-run. The hash tiebreak makes the winner a function of the DATA
    (rows identical in every column are interchangeable), so ``order_cols``
    need not cover every attribute for the pick to stay deterministic.
    """
    w = Window.partitionBy(*keys).orderBy(
        *order_cols, F.md5(F.to_json(F.struct(*df.columns))).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def add_scd2_metadata(
    df: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date: str,
    key_extra: str | None = None,
) -> DataFrame:
    """Stamp SCD2 metadata on a source frame (reference ``scd_type2.py:19-89``);
    one projection, attributes first, then ``SCD2_META_COLS``.

    ``key_extra`` is an optional extra surrogate-key component. The default
    key md5(business_keys + effective_date) matches the reference, but it
    collides when the SAME business key changes twice under the SAME
    effective date — impossible for quarterly batch loads, routine for a
    change stream merging several micro-batches per day. Streaming callers
    pass a per-batch token (the micro-batch id) so every inserted version
    gets a unique ``dim_key``; batch callers omit it and keep
    reference-identical keys.
    """
    eff = F.to_date(F.lit(effective_date))
    key_parts = [eff.cast("string")]
    if key_extra is not None:
        key_parts.append(F.lit(key_extra))
    return df.select(
        *[c for c in df.columns if c not in SCD2_META_COLS],
        surrogate_key(list(business_keys), *key_parts).alias("dim_key"),
        row_hash(list(tracked_cols)).alias("row_hash"),
        eff.alias("effective_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit(True).alias("is_current"),
    )


def scd2_initial_load(
    source: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date: str,
    key_extra: str | None = None,
    order_cols: Sequence[Column | str] = (),
) -> DataFrame:
    """First load: one source row per key (``one_per_key`` under
    ``order_cols``) becomes a current version. An order column named by
    string that is neither a business key nor tracked is order-only: it
    ranks the pick and is dropped from the dimension.

    Column order is canonical (attributes, then SCD metadata) and identical
    to ``scd2_merge`` output, so repeated merges are stable frames.
    """
    keep = {*business_keys, *tracked_cols}
    order_only = {c for c in order_cols if isinstance(c, str) and c not in keep}
    picked = one_per_key(source, business_keys, order_cols)
    return add_scd2_metadata(
        picked.select(*[c for c in source.columns if c not in order_only]),
        business_keys,
        tracked_cols,
        effective_date,
        key_extra=key_extra,
    )


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date: str,
    key_extra: str | None = None,
    order_cols: Sequence[Column | str] = (),
) -> DataFrame:
    """Apply one SCD2 merge; returns the full new dimension state.

    Semantics (matching the reference's two MERGEs):
    - source row matches a current target row with a different row_hash →
      close the target row (end_date=effective_date, is_current=false) AND
      insert the source row as the new current version;
    - source row with no current target match → insert as new current row;
    - source row with identical hash → no-op (idempotent re-runs);
    - target rows absent from the source are left untouched (the reference
      never closes missing keys);
    - historical (non-current) target rows bypass the join entirely.

    The source is reduced to one row per key by ``one_per_key`` under the
    caller's ``order_cols``, the only dedupe on the path: callers pass their
    tie-break order instead of pre-reducing. Source columns the target does
    not have (order-only columns) are dropped after the pick.
    """
    keys = list(business_keys)
    attr_cols = [c for c in target.columns if c not in SCD2_META_COLS]
    eff = F.to_date(F.lit(effective_date))

    src = add_scd2_metadata(
        one_per_key(source, keys, order_cols).select(*attr_cols),
        keys, tracked_cols, effective_date, key_extra=key_extra,
    )

    current = target.filter(F.col("is_current"))
    history = target.filter(~F.col("is_current"))

    # Presence markers (not keys[0].isNotNull()): a NULL business key is
    # matched by eqNullSafe and must not be silently dropped.
    t = current.withColumn("_t_present", F.lit(True)).alias("t")
    s = src.withColumn("_s_present", F.lit(True)).alias("s")
    joined = t.join(
        s, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys], how="full"
    )

    t_present = F.col("t._t_present").isNotNull()
    s_present = F.col("s._s_present").isNotNull()
    changed = (
        t_present & s_present & (F.col("t.row_hash") != F.col("s.row_hash"))
    )

    def _side(side: str, cols: Sequence[str]) -> list[Column]:
        return [F.col(f"{side}.{c}").alias(c) for c in cols]

    # Target-side survivors: unchanged current rows as-is, changed rows closed.
    kept = joined.filter(t_present).select(
        *_side("t", [*attr_cols, "dim_key", "row_hash", "effective_date"]),
        F.when(changed, eff).otherwise(F.col("t.end_date")).alias("end_date"),
        (F.col("t.is_current") & ~changed).alias("is_current"),
    )
    # Source-side inserts: new business keys + new versions of changed keys.
    inserted = joined.filter(
        (~t_present & s_present) | changed
    ).select(*_side("s", [*attr_cols, *SCD2_META_COLS]))

    return history.select(*[*attr_cols, *SCD2_META_COLS]).unionByName(
        kept
    ).unionByName(inserted)


def scd2_table_apply(
    spark,
    table: str,
    source: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date: str,
    key_extra: str | None = None,
    order_cols: Sequence[Column | str] = (),
) -> None:
    """Initial-load or merge ``source`` into the managed table ``table``.

    ``order_cols`` is the caller's tie-break order for the one dedupe the
    merge runs (see ``one_per_key``); pass it instead of pre-reducing.

    The merge plan reads ``table``, so its result cannot overwrite
    ``table`` directly. It is written once, to ``<table>__stage``, a real
    table: durable storage with a recompute path, safe on a real cluster.
    Then ``table`` is dropped and the stage renamed into its place. For a
    managed table the rename is a catalog update plus a directory rename;
    on an object store the rename copies the files, no worse than the
    second write it replaces. ``localCheckpoint`` was rejected for this
    shape: its blocks live on executor local disk with lineage truncated,
    so one executor loss mid-swap loses both old and new state.

    Crash recovery: a run that dies between the drop and the rename leaves
    only the stage, which holds the complete merged state. The next apply
    finds ``table`` missing and the stage present, renames the stage into
    place and then merges, so the dimension's history is never lost to
    the initial-load path. Delta/Iceberg replace the swap with an atomic
    MERGE.
    Shared by the batch dims (plans.medallion) and the streaming sink
    (streaming.scd2) — one code path, one set of semantics.
    """
    stage = f"{table}__stage"
    if not spark.catalog.tableExists(table):
        if not spark.catalog.tableExists(stage):
            scd2_initial_load(
                source, business_keys, tracked_cols, effective_date,
                key_extra=key_extra, order_cols=order_cols,
            ).write.mode("overwrite").option(
                "overwriteSchema", "true"
            ).saveAsTable(table)
            return
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
    dim = scd2_merge(
        spark.table(table), source, business_keys, tracked_cols, effective_date,
        key_extra=key_extra, order_cols=order_cols,
    )
    dim.write.mode("overwrite").option("overwriteSchema", "true").saveAsTable(
        stage
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
