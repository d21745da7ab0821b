"""Streaming SCD2: dimension maintenance from a change stream.

The reference's SCD2 is batch-only (two Delta MERGEs per quarterly load,
reference ``src/utils/scd_type2.py:111-226``). A lakehouse that ingests
dimension changes continuously needs the same semantics per micro-batch —
the canonical Spark shape is ``foreachBatch``: inside the hook each
micro-batch is a plain DataFrame, so the *batch* SCD2 engine
(``operators.scd2``) is reused verbatim — one code path, one set of
semantics, batch and streaming.

Delivery semantics: ``foreachBatch`` + a checkpoint location gives
at-least-once batch delivery; SCD2 absorbs replays because a re-merge of an
already-applied batch is a no-op (identical row hashes → "unchanged"
branch) — tested. At scale the overwrite step is the non-transactional
window (same caveat as ``sources.maintenance``); on Delta/Iceberg the
``foreachBatch`` body becomes the native transactional ``MERGE`` with the
same surrounding logic.

The effective-date clock is injectable per batch (``batch_id -> str``), so
streaming runs are as deterministic/testable as the batch engine — never
``current_date()`` inside the merge.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_table_apply


def _latest_first(order_col: str) -> list[Column]:
    return [F.col(order_col).desc_nulls_last()]


def apply_scd2_batch(
    batch: DataFrame,
    table: str,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date: str,
    order_col: str | None = None,
    key_extra: str | None = None,
) -> None:
    """Merge one micro-batch into the managed dimension table ``table``
    (creating it on first batch). Delegates to the shared staging-table
    apply (``operators.scd2.scd2_table_apply``) — the same durable
    materialization the batch dims use, NOT ``localCheckpoint`` (executor-
    local blocks with truncated lineage would make an executor loss
    mid-overwrite unrecoverable).

    ``order_col``: event-time/offset column used to deterministically keep
    the latest row per key within the batch (handed to the merge's own
    dedupe, ``operators.scd2.one_per_key``, so the batch is windowed once).
    Without it, the one-row-per-key-per-batch precondition is ASSERTED
    (one extra aggregation job per batch) — never silently resolved by an
    arbitrary ``dropDuplicates`` winner.

    ``key_extra``: per-batch surrogate-key token (the sink passes the
    micro-batch id) so two changes to the same key in different batches
    under one effective date get distinct ``dim_key`` values.
    """
    if batch.isEmpty():
        return
    order_cols: list[Column] = []
    if order_col is not None:
        order_cols = _latest_first(order_col)
    else:
        dup = (
            batch.groupBy(*business_keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "micro-batch contains multiple rows per business key; pass "
                "order_col= so the merge can deterministically keep the "
                "latest version per key"
            )
    scd2_table_apply(
        batch.sparkSession,
        table,
        batch,
        business_keys,
        tracked_cols,
        effective_date,
        key_extra=key_extra,
        order_cols=order_cols,
    )


def scd2_streaming_sink(
    stream: DataFrame,
    table: str,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_date_for_batch: Callable[[int], str] | str,
    checkpoint_dir: str | None = None,
    query_name: str = "scd2_sink",
    order_col: str | None = None,
):
    """Attach an SCD2 merge sink to a change stream; returns the started
    ``StreamingQuery``. Each micro-batch runs one full merge, so dimension
    state advances transactionally per trigger from the stream's point of
    view.

    ``order_col`` (recommended): event-time/offset column; the sink keeps
    the latest row per key within each micro-batch deterministically.
    Surrogate keys include the micro-batch id, so intraday changes across
    batches never collide on ``dim_key`` (replays stay no-ops: an
    already-applied batch re-merges into the "unchanged" branch on
    ``row_hash`` before ``dim_key`` is ever consulted)."""

    def _eff(batch_id: int) -> str:
        if callable(effective_date_for_batch):
            return effective_date_for_batch(batch_id)
        return effective_date_for_batch

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_scd2_batch(
            batch,
            table,
            business_keys,
            tracked_cols,
            _eff(batch_id),
            order_col=order_col,
            key_extra=f"b{batch_id}",
        )

    writer = stream.writeStream.foreachBatch(_apply).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
