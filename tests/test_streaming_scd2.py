"""Streaming SCD2 sink: per-micro-batch merges equal the batch engine
applied sequentially, and replays are no-ops."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.scd2 import (
    scd2_initial_load,
    scd2_merge,
)
from faers_datalakehouse_spark.sources.catalog import ensure_schemas
from faers_datalakehouse_spark.streaming.scd2 import (
    apply_scd2_batch,
    scd2_streaming_sink,
)

KEYS = ["nk"]
TRACKED = ["attr"]


def _frame(spark, rows):
    return spark.createDataFrame(rows, ["nk", "attr"])


def _state(df):
    return sorted(
        (r["nk"], r["attr"], str(r["effective_date"]), str(r["end_date"]), r["is_current"])
        for r in df.collect()
    )


def test_streaming_scd2_matches_sequential_batch_merges(spark, tmp_path):
    ensure_schemas(spark)
    t = "gold.dim_stream_scd2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")

    b0 = [("k1", "v1"), ("k2", "v2")]
    b1 = [("k1", "v1b"), ("k3", "v3")]  # change k1, add k3, drop k2 (kept)

    src_dir = tmp_path / "changes"
    src_dir.mkdir()
    _frame(spark, b0).coalesce(1).write.parquet(str(src_dir / "batch-a"))
    time.sleep(1.1)  # distinct mtimes → deterministic file-source order
    _frame(spark, b1).coalesce(1).write.parquet(str(src_dir / "batch-b"))
    # point the stream at the two single-file batch dirs via glob
    schema = _frame(spark, b0).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "batch-*"))
    )
    dates = {0: "2024-01-01", 1: "2024-02-01"}
    q = scd2_streaming_sink(
        stream,
        t,
        KEYS,
        TRACKED,
        effective_date_for_batch=lambda i: dates[i],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    expected = scd2_merge(
        scd2_initial_load(_frame(spark, b0), KEYS, TRACKED, "2024-01-01"),
        _frame(spark, b1),
        KEYS,
        TRACKED,
        "2024-02-01",
    )
    got = _state(spark.table(t))
    assert got == _state(expected)
    # sanity on the semantics themselves
    cur = {r["nk"]: r["attr"] for r in spark.table(t).filter("is_current").collect()}
    assert cur == {"k1": "v1b", "k2": "v2", "k3": "v3"}
    hist = spark.table(t).filter("NOT is_current").collect()
    assert len(hist) == 1 and hist[0]["nk"] == "k1" and hist[0]["attr"] == "v1"


def test_scd2_batch_replay_is_noop(spark):
    ensure_schemas(spark)
    t = "gold.dim_replay_scd2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    batch = _frame(spark, [("a", "1"), ("b", "2")])
    apply_scd2_batch(batch, t, KEYS, TRACKED, "2024-01-01")
    first = _state(spark.table(t))
    # at-least-once delivery: the same micro-batch arrives again
    apply_scd2_batch(batch, t, KEYS, TRACKED, "2024-03-01")
    assert _state(spark.table(t)) == first


def test_multi_update_batch_keeps_latest_by_order_col(spark):
    ensure_schemas(spark)
    t = "gold.dim_multiupdate_scd2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    # three updates for k1 inside ONE micro-batch — latest (ts=3) must win,
    # deterministically, never an arbitrary dropDuplicates survivor
    batch = spark.createDataFrame(
        [("k1", "v-old", 1), ("k1", "v-mid", 2), ("k1", "v-new", 3), ("k2", "x", 1)],
        ["nk", "attr", "ts"],
    )
    apply_scd2_batch(batch, t, KEYS, TRACKED, "2024-01-01", order_col="ts")
    cur = {r["nk"]: r["attr"] for r in spark.table(t).filter("is_current").collect()}
    assert cur == {"k1": "v-new", "k2": "x"}
    assert spark.table(t).count() == 2  # no intermediate versions


def test_multi_update_batch_without_order_col_raises(spark):
    import pytest

    ensure_schemas(spark)
    t = "gold.dim_dupkey_scd2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    batch = _frame(spark, [("k1", "a"), ("k1", "b")])
    with pytest.raises(ValueError, match="order_col"):
        apply_scd2_batch(batch, t, KEYS, TRACKED, "2024-01-01")


def test_same_day_changes_across_batches_get_distinct_dim_keys(spark):
    ensure_schemas(spark)
    t = "gold.dim_intraday_scd2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    # two micro-batches change the SAME key under the SAME effective date
    # (routine for a change stream) — the per-batch surrogate token must
    # keep dim_key unique across the closed and the new version
    apply_scd2_batch(
        _frame(spark, [("k1", "v1")]), t, KEYS, TRACKED, "2024-01-01",
        key_extra="b0",
    )
    apply_scd2_batch(
        _frame(spark, [("k1", "v2")]), t, KEYS, TRACKED, "2024-01-01",
        key_extra="b1",
    )
    rows = spark.table(t).collect()
    assert len(rows) == 2
    assert len({r["dim_key"] for r in rows}) == 2
    cur = [r for r in rows if r["is_current"]]
    assert len(cur) == 1 and cur[0]["attr"] == "v2"


def test_latest_per_key_ties_are_deterministic(spark):
    """Same key, same order value: the winner is a function of row
    content (md5 tiebreak), identical across shuffles and replays."""
    from faers_datalakehouse_spark.operators.scd2 import one_per_key

    rows = [(1, "2024-01-01T00:00:00", f"v{i}") for i in range(6)]
    winners = set()
    for seed in range(4):
        df = spark.createDataFrame(
            rows, "k long, ts string, payload string"
        ).orderBy(F.rand(seed=seed)).repartition(seed + 1)
        [w] = one_per_key(df, ["k"], [F.col("ts").desc_nulls_last()]).collect()
        winners.add(w["payload"])
    assert len(winners) == 1
