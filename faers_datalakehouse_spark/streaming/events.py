"""Structured Streaming paths for the events table.

The reference is batch-only ("Real-time Streaming" is listed as a future
enhancement, reference README); the north star asks for streaming as a
first-class capability, so the batch aggregations in plans/analytics.py get
streaming twins here:

- ``windowed_event_aggregate``   — tumbling/sliding window + watermark: the
  streaming version of the per-day/type rollups. Late rows beyond the
  watermark are dropped; state is bounded.
- ``streaming_session_windows``  — ``session_window(ts, gap)``: the streaming
  twin of plans.analytics.sessionize (same gap semantics, incremental state).
- ``streaming_type_counts``      — running counts in update mode (the
  simplest stateful shape, used by tests).

Local tests drive these with a file source over a directory of parquet
(one batch == whole directory) and a memory sink +
``processAllAvailable()`` — the documented pattern for deterministic
streaming tests. In production the source line changes to Kafka; every
transformation below is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.analytics import cents
from pyspark.sql import types as T

DEFAULT_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        # the driver's current testdata encoding (timestamp[us],
        # isAdjustedToUTC=false); normalize_event_ts casts it to TIMESTAMP
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events_from_dir(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream over parquet event files (ts normalized to µs).

    Streaming file sources require an explicit schema; the testdata's ts
    encoding has changed across driver regenerations (LONG nanos,
    TIMESTAMP_NTZ µs), so the schema is taken from a batch footer read of
    the same directory — a metadata-only operation — and ``ts`` is
    normalized with the shared batch-path rule
    (sources.tables.normalize_event_ts). An empty or not-yet-created
    landing directory (the normal deployment order: start the stream,
    then let producers land files) falls back to ``DEFAULT_EVENTS_SCHEMA``
    instead of failing at stream construction.

    Fallback caveat: the default schema declares ``ts`` TIMESTAMP_NTZ; a
    streaming source's schema is fixed at start, so producers that later
    land the LONG-nanos physical encoding will fail the first micro-batch
    (the reader cannot coerce INT64 -> NTZ). When producers use that
    encoding, land one seed file before starting the stream — the footer
    sniff then locks the right schema and ``normalize_event_ts`` handles
    the rest.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    from ..sources.tables import nanos_as_long, normalize_event_ts

    try:
        with nanos_as_long(spark):
            schema = spark.read.parquet(dir_path).schema
    except AnalysisException:
        schema = DEFAULT_EVENTS_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )
    return normalize_event_ts(raw)


def windowed_event_aggregate(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed aggregate per event type."""
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            (F.col("value_c").cast("double") / 100.0).alias("total_value"),
        )
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based session windows per user (streaming sessionize twin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            (F.col("value_c").cast("double") / 100.0).alias("session_value"),
        )
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """EXACT streaming twin of ``plans.analytics.sessionize`` (up to the
    final per-user numbering — ``finish_sessionize``).

    ``session_window(gap)`` implements precisely the batch definition: a
    session extends while the next event arrives within ``gap`` of the
    previous one. Carrying ``min(ts)``/``max(ts)`` as aggregates gives the
    batch frame's ``session_start``/``session_end`` (the window's own
    ``end`` is last-event+gap, which the batch frame doesn't use). Value
    is summed in integer cents exactly like the batch path.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "value_c")
    )


def finish_sessionize(sessions: DataFrame) -> DataFrame:
    """Number a closed session frame per user by start time and project the
    batch ``sessionize`` schema. Runs over ONE ROW PER SESSION (already
    aggregated), so the per-user window here is orders of magnitude
    smaller than the event-level window the batch path shuffles."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    return (
        sessions.withColumn(
            "session_seq", F.row_number().over(w).cast("long")
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "session_start",
            "session_end",
            (F.col("value_c").cast("double") / 100.0).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def streaming_type_counts(events: DataFrame) -> DataFrame:
    """Running per-type counts (update-mode stateful aggregate)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState``.

    Keeps (n_events, value_cents) per user in explicit group state and emits
    the updated totals for users seen in each micro-batch — the shape for
    custom aggregations Spark's built-ins can't express (per-key ML state,
    decaying counters, CDC folds). State is partitioned by the group key and
    bounded by ``GroupStateTimeout`` in production configs.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("value_c", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, value_c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            value_c += int(round(pdf["value"].fillna(0.0).mul(100).round()).sum())
        state.update((n, value_c))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [value_c / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_completion(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drive a streaming frame to completion against a memory sink and
    return the materialized result (test/demo helper)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the curation dedup's streaming twin.

    ``dropDuplicatesWithinWatermark`` keeps first-seen rows per key and lets
    Spark expire per-key state once the event-time watermark passes, so
    state is bounded by (arrival skew × key rate) instead of growing with
    the whole stream — the only viable layout for an unbounded 100 TB/day
    feed. Exactly-once within the watermark horizon; duplicates arriving
    later than the watermark are NOT caught (that is the documented
    contract — batch `dedup_exact` is the full-history reconciliation).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_click_purchase_join(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream INNER join: each purchase matched to the
    same user's clicks in the preceding ``within`` interval.

    This is the canonical Structured Streaming two-stream shape: both
    sides carry an event-time watermark and the join condition includes
    an event-time RANGE (click_ts in [purchase_ts - within,
    purchase_ts]), which is exactly what lets Spark bound the join state
    — clicks older than the watermark minus the range can never match a
    future purchase and are evicted. Without the time bound the state
    grows forever; with it, state is O(traffic within the window), the
    production contract for attribution joins at any scale.

    Emits append-mode rows (matched pairs finalize as soon as both sides
    arrive); the caller picks the sink. ``events`` is one normalized
    event stream — both sides derive from it by type filter, each with
    its own watermark.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")
        )
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        "click_id",
        "user_id",
        # explicit whole-second truncation on both operands: Spark's
        # timestampdiff floors the elapsed interval while DuckDB's
        # date_diff counts boundary crossings — they disagree on
        # sub-second inputs unless both are truncated first
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', click_ts),"
            " date_trunc('second', purchase_ts))"
        )
        .cast("long")
        .alias("delta_s"),
    )
