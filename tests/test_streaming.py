"""Structured Streaming tests: file source → watermarked aggregates →
memory sink, driven synchronously with processAllAvailable()."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.streaming.events import (
    run_to_completion,
    stream_events_from_dir,
    streaming_session_windows,
    streaming_type_counts,
    windowed_event_aggregate,
)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    return str(d)


def test_windowed_aggregate_matches_batch(spark, events_dir, sf_dir):
    stream = stream_events_from_dir(spark, events_dir)
    agg = windowed_event_aggregate(stream, window="1 hour", watermark="2 hours")
    out = run_to_completion(agg, "win_agg", "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    assert got, "streaming aggregate produced no windows"

    # batch twin over the same file
    from faers_datalakehouse_spark.sources.tables import read_events

    batch = (
        read_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias("v"),
        )
    )
    expected = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["v"])
        for r in batch.collect()
    }
    # append-mode emits only watermark-closed windows → subset of batch
    assert set(got).issubset(set(expected))
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_session_windows(spark, events_dir):
    stream = stream_events_from_dir(spark, events_dir)
    sess = streaming_session_windows(stream, gap="30 minutes", watermark="2 hours")
    out = run_to_completion(sess, "sess_win", "append").collect()
    assert out
    assert all(r["session_start"] <= r["session_end"] for r in out)
    assert all(r["n_events"] >= 1 for r in out)


def test_stream_starts_on_empty_landing_dir(spark, tmp_path):
    """The normal deployment order is stream-first, files-later: an empty
    landing directory must not fail stream construction (falls back to
    DEFAULT_EVENTS_SCHEMA), and files landing afterwards flow through."""
    import shutil as _sh

    d = tmp_path / "empty_landing"
    d.mkdir()
    stream = stream_events_from_dir(spark, str(d))  # must not raise
    assert dict(stream.dtypes)["ts"] == "timestamp"
    _sh.copy("/root/testdata/sf0.001/events.parquet", d / "late.parquet")
    out = run_to_completion(
        streaming_type_counts(stream), "late_counts", "complete"
    )
    assert sum(r["n_events"] for r in out.collect()) == 1000


def test_streaming_type_counts_complete(spark, events_dir):
    stream = stream_events_from_dir(spark, events_dir)
    counts = streaming_type_counts(stream)
    out = run_to_completion(counts, "type_counts", "complete").collect()
    total = sum(r["n_events"] for r in out)
    assert total == 1000  # sf0.001 events row count


def test_stateful_user_totals(spark, events_dir):
    from faers_datalakehouse_spark.streaming.events import stateful_user_totals

    stream = stream_events_from_dir(spark, events_dir)
    totals = stateful_user_totals(stream)
    out = run_to_completion(totals, "user_totals", "update")
    # update mode emits one row per user per batch; last emission per user is
    # the final state — with a single input file there is exactly one batch
    rows = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    assert rows

    from faers_datalakehouse_spark.sources.tables import read_events
    from pyspark.sql import functions as F

    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in read_events(spark, "/root/testdata/sf0.001")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias("v"),
        )
        .collect()
    }
    assert rows == batch


def test_streaming_dedup_within_watermark(spark, events_dir):
    """Duplicated source files → dropDuplicatesWithinWatermark keeps one row
    per event_id, matching the batch distinct count."""
    import shutil as _sh
    import tempfile as _tf

    from faers_datalakehouse_spark.streaming.events import streaming_dedup

    d = _tf.mkdtemp(prefix="dup_stream_")
    _sh.copy(f"{events_dir}/part-0.parquet", f"{d}/a.parquet")
    _sh.copy(f"{events_dir}/part-0.parquet", f"{d}/b.parquet")  # exact dupes
    stream = stream_events_from_dir(spark, d)
    out = run_to_completion(
        streaming_dedup(stream, keys=("event_id",)), "dedup_stream", "append"
    )
    batch = spark.read.parquet(f"{d}/a.parquet")
    assert out.count() == batch.select("event_id").distinct().count()


def test_stateless_text_ops_are_streaming_safe(spark, tmp_path):
    """The curation projections (quality, lang-ID, redaction) are stateless,
    so the same Column builders must run unchanged on a stream."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from faers_datalakehouse_spark.functions.text import (
        language_id,
        quality_score_cols,
        redact_pii,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    _sh.copy("/root/testdata/sf0.001/documents.parquet", d / "p0.parquet")
    batch_df = spark.read.parquet(str(d))
    stream = spark.readStream.schema(batch_df.schema).parquet(str(d))

    def curate(df):
        q = quality_score_cols(F.col("text"))
        return df.select(
            "doc_id",
            language_id(F.col("text")).alias("pred_lang"),
            q["q_score"].alias("q_score"),
            F.md5(redact_pii("text")).alias("redacted_hash"),
        )

    out = run_to_completion(curate(stream), "curate_stream", "append")
    got = {r["doc_id"]: r for r in out.collect()}
    want = {r["doc_id"]: r for r in curate(batch_df).collect()}
    assert len(got) == len(want)
    for k in want:
        assert got[k]["pred_lang"] == want[k]["pred_lang"]
        assert got[k]["q_score"] == want[k]["q_score"]
        assert got[k]["redacted_hash"] == want[k]["redacted_hash"]


def test_streaming_sessionize_equals_batch_exactly(spark, events_dir, sf_dir):
    """The streaming sessionize twin (session_window + min/max-ts
    aggregates + per-session numbering) must reproduce the batch
    ``plans.analytics.sessionize`` frame EXACTLY — every column, every
    session boundary — over the same events file."""
    from faers_datalakehouse_spark.plans.analytics import sessionize
    from faers_datalakehouse_spark.streaming.events import (
        finish_sessionize,
        streaming_sessionize,
    )

    stream = stream_events_from_dir(spark, events_dir)
    # complete mode: every session in state is emitted, including those the
    # watermark has not closed (availableNow input is finite)
    closed = run_to_completion(
        streaming_sessionize(stream, gap="30 minutes", watermark="1 hour"),
        "sessionize_stream",
        "complete",
    )
    got = finish_sessionize(closed).collect()
    want = sessionize(spark, sf_dir, gap_minutes=30).collect()
    assert got == want


def test_stream_stream_join_matches_batch(spark, events_dir, sf_dir):
    """Watermarked stream-stream inner join (click -> purchase within 1h):
    the streaming result over a finite input must equal the batch join
    exactly. Inner-join pairs emit as they match, so availableNow input
    loses nothing to the watermark."""
    from faers_datalakehouse_spark.sources.tables import read_events
    from faers_datalakehouse_spark.streaming.joins import attribute_purchases

    stream = stream_events_from_dir(spark, events_dir)
    clicks_s = stream.filter(F.col("event_type") == "click")
    purch_s = stream.filter(F.col("event_type") == "purchase")
    out = run_to_completion(
        attribute_purchases(clicks_s, purch_s),
        "click_purchase_join",
        "append",
    )
    got = {
        (r["click_id"], r["purchase_id"], r["value_cents"])
        for r in out.collect()
    }

    ev = read_events(spark, sf_dir)
    want_df = attribute_purchases(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    want = {
        (r["click_id"], r["purchase_id"], r["value_cents"])
        for r in want_df.collect()
    }
    assert got == want and got


def test_stream_stream_join_state_bound_documented(spark, events_dir):
    """The join carries the time-range condition both watermarks need for
    state eviction — assert the analyzed plan keeps the range predicates
    (dropping them would silently make state unbounded)."""
    from faers_datalakehouse_spark.streaming.joins import attribute_purchases

    stream = stream_events_from_dir(spark, events_dir)
    j = attribute_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    assert j.isStreaming
    plan = j._jdf.queryExecution().analyzed().toString()
    assert "purchase_ts" in plan and "click_ts" in plan
    assert "watermark" in plan.lower()


def test_stream_scratch_dir_registers_exit_cleanup(monkeypatch):
    """Every streaming entry stages its landing zone / checkpoint / sink
    through stream_scratch_dir, which must register removal of the WHOLE
    tree at interpreter exit (ADVICE r7: the sessionize entry leaked one
    staged events.parquet copy per invocation)."""
    import atexit
    import os

    from faers_datalakehouse_spark.plans.showcase import stream_scratch_dir

    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: registered.append((fn, a, kw))
    )
    root = stream_scratch_dir("spark_graft_test_scratch_")
    assert os.path.isdir(root)
    assert len(registered) == 1
    fn, a, kw = registered[0]
    fn(*a, **kw)  # the registered callable must remove the tree
    assert not os.path.exists(root)
