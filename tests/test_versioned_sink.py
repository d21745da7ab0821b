"""Exactly-once streaming appends into VersionedTable: the txn-watermark
idempotence contract (Delta txnAppId/txnVersion analog) and the
end-to-end foreachBatch sink."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import VersionedTable
from faers_datalakehouse_spark.streaming.versioned_sink import (
    idempotent_append,
    stream_to_versioned,
)


def test_idempotent_append_skips_replays(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    b0 = spark.range(0, 5)
    b1 = spark.range(5, 8)

    assert idempotent_append(t, b0, 0) == 1
    assert idempotent_append(t, b1, 1) == 2
    # replay of an already-committed batch: no-op, no new version
    assert idempotent_append(t, b0, 0) is None
    assert idempotent_append(t, b1, 1) is None
    assert t.current_version() == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(8))
    # commit stamps are deterministic and sortable
    assert [t.snapshot(v).committed_at for v in t.versions()] == [
        "batch-000000000000",
        "batch-000000000001",
    ]


def test_txn_watermark_survives_maintenance_commits(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    idempotent_append(t, spark.range(0, 200).repartition(6), 0)
    # an unrelated maintenance commit between batches
    t.compact(spark, target_file_bytes=1 << 30, committed_at="tc")
    assert t.snapshot().extra["txn"] == {"stream": 0}
    # the replay guard still holds after compaction rewrote the files
    assert idempotent_append(t, spark.range(0, 200), 0) is None
    assert idempotent_append(t, spark.range(200, 210), 1) is not None
    assert t.read(spark).count() == 210


def test_distinct_app_ids_track_independently(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    idempotent_append(t, spark.range(0, 3), 5, app_id="a")
    # a different writer's batch 0 is NOT shadowed by writer a's batch 5
    assert idempotent_append(t, spark.range(10, 13), 0, app_id="b") == 2
    assert t.snapshot().extra["txn"] == {"a": 5, "b": 0}
    assert idempotent_append(t, spark.range(0, 3), 5, app_id="a") is None


def test_idempotent_append_partitioned(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.range(0, 10).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    )
    idempotent_append(t, df, 0, partition_by=("bucket",))
    pruned, rep = t.read_partitions(spark, {"bucket": 1})
    assert pruned.count() == 5 and rep["files_skipped"] >= 1


def test_stream_to_versioned_end_to_end(spark, tmp_path):
    from faers_datalakehouse_spark.sources.tables import read_events
    from faers_datalakehouse_spark.streaming.events import (
        stream_events_from_dir,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", landing / "part-0.parquet"
    )
    root = str(tmp_path / "vt")
    stream = stream_events_from_dir(spark, str(landing))
    q = stream_to_versioned(
        stream,
        root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="vt_sink_test",
    )
    q.processAllAvailable()
    q.stop()

    t = VersionedTable(root)
    got = t.read(spark)
    want = read_events(spark, "/root/testdata/sf0.001")
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    # every commit carries the txn watermark
    assert all("txn" in t.snapshot(v).extra for v in t.versions())
