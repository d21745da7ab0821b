"""Snapshot-versioned parquet tables: append/overwrite snapshots, time
travel, transactional compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import VersionedTable


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    assert t.versions() == []

    v1 = t.write(spark.range(0, 10), mode="append", committed_at="t1")
    v2 = t.write(spark.range(10, 15), mode="append", committed_at="t2")
    v3 = t.write(spark.range(100, 103), mode="overwrite", committed_at="t3")
    assert (v1, v2, v3) == (1, 2, 3)

    assert _ids(t.read(spark)) == [100, 101, 102]          # current
    assert _ids(t.read(spark, version=1)) == list(range(10))
    assert _ids(t.read(spark, version=2)) == list(range(15))
    ops = [t.snapshot(v).operation for v in t.versions()]
    assert ops == ["append", "append", "overwrite"]
    assert [t.snapshot(v).committed_at for v in t.versions()] == [
        "t1", "t2", "t3"
    ]


def test_compact_is_transactional_and_preserves_history(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 500).repartition(8), committed_at="t1")
    assert len(t.snapshot().files) == 8

    stats = t.compact(spark, target_file_bytes=1 << 30, committed_at="t2")
    assert stats["compacted"] and stats["files_after"] == 1
    assert _ids(t.read(spark)) == list(range(500))
    # the pre-compaction snapshot is still readable (time travel)
    assert _ids(t.read(spark, version=1)) == list(range(500))
    assert len(t.snapshot(1).files) == 8

    # already-compact: no new version published
    again = t.compact(spark, target_file_bytes=1 << 30)
    assert not again["compacted"]
    assert t.current_version() == stats["version"]


def test_reader_snapshot_isolation(spark, tmp_path):
    """A resolved DataFrame keeps reading its snapshot's files even after
    later commits change the current version (no torn reads)."""
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 50), committed_at="t1")
    reader = t.read(spark)  # resolves v1's file list NOW
    t.write(spark.range(50, 60), mode="append", committed_at="t2")
    t.write(spark.range(999, 1000), mode="overwrite", committed_at="t3")
    assert _ids(reader) == list(range(50))  # still v1
    assert _ids(t.read(spark)) == [999]


def test_write_rejects_unknown_mode(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    with pytest.raises(ValueError, match="unsupported mode"):
        t.write(spark.range(1), mode="merge")


def test_empty_commit_reads_back_as_typed_empty_frame(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_empty"))
    df = spark.createDataFrame([(1, "a")], ["id", "val"])
    vt.write(df, mode="overwrite")
    # overwrite-truncate: committing an empty frame is a legitimate state
    vt.write(df.filter("id < 0"), mode="overwrite")
    got = vt.read(spark)
    assert got.count() == 0
    assert got.schema == df.schema
    # prior version still time-travels
    assert vt.read(spark, version=1).count() == 1


def _vt_two_files(spark, tmp_path, name):
    """A versioned table whose snapshot holds two physically separate
    files (two commits), so copy-on-write file pruning is observable."""
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / name))
    lo = spark.createDataFrame([(i, "lo") for i in range(10)], ["id", "tag"])
    hi = spark.createDataFrame([(i, "hi") for i in range(100, 110)], ["id", "tag"])
    vt.write(lo.coalesce(1), mode="overwrite")
    vt.write(hi.coalesce(1), mode="append")
    return vt


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    vt = _vt_two_files(spark, tmp_path, "vt_del")
    before = {f["path"] for f in vt.snapshot().files}
    info = vt.delete_where(spark, "id = 105")
    assert info["rows_matched"] == 1
    assert info["files_rewritten"] == 1 and info["files_kept"] == 1
    after = vt.snapshot()
    # the untouched file is carried BY REFERENCE (same path, no rewrite)
    assert len(set(f["path"] for f in after.files) & before) == 1
    ids = sorted(r["id"] for r in vt.read(spark).collect())
    assert ids == list(range(10)) + [100, 101, 102, 103, 104, 106, 107, 108, 109]
    # time travel: pre-delete snapshot still has the row
    assert vt.read(spark, version=2).filter("id = 105").count() == 1


def test_delete_where_no_match_is_noop_commit_free(spark, tmp_path):
    vt = _vt_two_files(spark, tmp_path, "vt_nm")
    v_before = vt.current_version()
    info = vt.delete_where(spark, "id = 99999")
    assert info["files_rewritten"] == 0
    assert vt.current_version() == v_before  # no new snapshot published


def test_append_with_new_column_evolves_schema(spark, tmp_path):
    """Delta-style schema evolution: an append with an extra column
    widens the table; old files' rows read back null for it, and
    time-traveling to v1 shows the original narrow schema."""
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_evolve"))
    vt.write(
        spark.createDataFrame([(1, "a")], ["id", "val"]).coalesce(1),
        mode="overwrite",
    )
    vt.write(
        spark.createDataFrame(
            [(2, "b", "extra")], ["id", "val", "note"]
        ).coalesce(1),
        mode="append",
    )
    cur = vt.read(spark)
    assert set(cur.columns) == {"id", "val", "note"}
    got = {r["id"]: r["note"] for r in cur.collect()}
    assert got[1] is None and got[2] == "extra"
    assert set(vt.read(spark, version=1).columns) == {"id", "val"}


def test_data_skipping_reads_only_intersecting_files(spark, tmp_path):
    """Min/max stats in the manifest + a range-clustered layout: a point
    lookup touches 1 of 8 files; an unstatted table reads everything."""
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_skip"))
    df = spark.range(8000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    vt.write(
        df.repartitionByRange(8, "id"), mode="overwrite", stats_cols=("id",)
    )
    snap = vt.snapshot()
    assert len(snap.files) == 8
    assert all("stats" in f and "id" in f["stats"] for f in snap.files)

    out, rep = vt.read_pruned(spark, "id", 4242)
    assert rep == {"files_total": 8, "files_read": 1, "files_skipped": 7}
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 4242

    out, rep = vt.read_pruned(spark, "id", 1000, 3000)
    assert rep["files_read"] <= 3 and rep["files_skipped"] >= 5
    assert out.count() == 2001

    # out-of-range lookup: zero files, still a valid empty typed frame
    out, rep = vt.read_pruned(spark, "id", 10**9)
    assert rep["files_read"] == 0 and out.count() == 0


def test_data_skipping_is_conservative_without_stats(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_nostats"))
    df = spark.range(100).select(F.col("id"))
    vt.write(df.repartition(4), mode="overwrite")  # no stats recorded
    out, rep = vt.read_pruned(spark, "id", 50)
    assert rep["files_skipped"] == 0  # cannot skip safely
    assert [r["id"] for r in out.collect()] == [50]


def test_compact_preserves_skipping_index_and_clustering(spark, tmp_path):
    """Compaction re-records per-file stats and (with sort_by) keeps the
    layout skippable: a point lookup still touches a strict subset."""
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_compact_stats"))
    df = spark.range(4000).select(F.col("id"))
    # fragmented: 16 range-clustered files with stats
    vt.write(
        df.repartitionByRange(16, "id"), mode="overwrite", stats_cols=("id",)
    )
    info = vt.compact(
        spark, target_file_bytes=20_000, sort_by=("id",)
    )
    assert info["compacted"] and info["files_after"] < info["files_before"]
    snap = vt.snapshot()
    assert all("stats" in f for f in snap.files)
    out, rep = vt.read_pruned(spark, "id", 1234)
    assert rep["files_read"] == 1
    assert rep["files_total"] == info["files_after"]
    assert [r["id"] for r in out.collect()] == [1234]


def test_changes_pure_append_reads_only_new_files(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10), committed_at="t1")
    t.write(spark.range(10, 13), mode="append", committed_at="t2")

    cdf = t.changes(spark, 1, 2)
    rows = {(r["id"], r["change_type"]) for r in cdf.collect()}
    assert rows == {(10, "insert"), (11, "insert"), (12, "insert")}
    # manifest-level: only the appended files appear in the scan
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    v1_paths = {f["path"] for f in t.snapshot(1).files}
    assert not any(p.split("/")[-1] in plan for p in v1_paths)


def test_changes_overwrite_yields_deletes_and_inserts(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 5), committed_at="t1")
    t.write(spark.range(3, 8), mode="overwrite", committed_at="t2")

    rows = {(r["id"], r["change_type"]) for r in t.changes(spark, 1).collect()}
    assert rows == {
        (0, "delete"), (1, "delete"), (2, "delete"),
        (5, "insert"), (6, "insert"), (7, "insert"),
    }  # 3, 4 unchanged -> absent


def test_changes_across_compaction_is_empty(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 200).repartition(6), committed_at="t1")
    t.compact(spark, target_file_bytes=1 << 30, committed_at="t2")
    assert t.changes(spark, 1, 2).count() == 0


def test_changes_update_is_delete_plus_insert(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.range(0, 6).withColumn("flag", F.lit("a"))
    t.write(df, committed_at="t1")
    upd = spark.createDataFrame([(4, "b")], "id long, flag string")
    t.merge_rows(spark, upd, ["id"], committed_at="t2")

    rows = {
        (r["id"], r["flag"], r["change_type"])
        for r in t.changes(spark, 1).collect()
    }
    assert rows == {(4, "a", "delete"), (4, "b", "insert")}


def test_changes_multiset_multiplicity(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    one = spark.createDataFrame([(1,)], "id long")
    t.write(one, committed_at="t1")
    t.write(one.union(one), mode="append", committed_at="t2")  # now 3 copies

    cdf = t.changes(spark, 1, 2).collect()
    assert [(r["id"], r["change_type"]) for r in cdf] == [
        (1, "insert"), (1, "insert"),
    ]


def test_changes_identical_versions_empty_with_schema(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 5), committed_at="t1")
    cdf = t.changes(spark, 1, 1)
    assert cdf.columns == ["id", "change_type"]
    assert cdf.count() == 0


def test_merge_rows_upsert_rewrites_only_matching_files(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    base = spark.range(0, 400).withColumn("v", F.col("id") * 10)
    t.write(base.repartitionByRange(8, "id"), committed_at="t1")
    files_before = {f["path"] for f in t.snapshot().files}

    src = spark.createDataFrame(
        [(5, 999), (7, 888), (1000, 111)], "id long, v long"
    )
    stats = t.merge_rows(spark, src, ["id"], committed_at="t2")
    # ids 5 and 7 land in one range-partitioned file; 1000 matches none
    assert stats["files_rewritten"] == 1
    assert stats["files_kept"] == 7
    assert stats["files_added"] >= 1
    # untouched files carried by reference (byte-identical paths)
    kept_paths = {f["path"] for f in t.snapshot().files}
    assert len(files_before & kept_paths) == 7

    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert rows[5] == 999 and rows[7] == 888 and rows[1000] == 111
    assert rows[6] == 60 and len(rows) == 401


def test_merge_rows_into_empty_table(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 5).limit(0), committed_at="t1")  # empty commit
    t.merge_rows(spark, spark.range(0, 3), ["id"], committed_at="t2")
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2]


def test_constraints_reject_and_stay_invisible(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(str(tmp_path / "vt"))
    good = spark.range(1, 50).withColumn("v", F.col("id") * 2)
    t.write(good, committed_at="t1", constraints=("id > 0", "v IS NOT NULL"))
    assert t.snapshot().constraints == ["id > 0", "v IS NOT NULL"]

    bad = spark.createDataFrame([(0, 7), (5, None)], "id long, v long")
    with pytest.raises(ConstraintViolation, match="id > 0"):
        t.write(bad, mode="append", committed_at="t2")
    # nothing committed, table unchanged, no orphan data visible
    assert t.current_version() == 1
    assert t.read(spark).count() == 49


def test_constraints_persist_across_writes(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(1, 10), committed_at="t1", constraints=("id > 0",))
    t.write(spark.range(10, 20), mode="append", committed_at="t2")  # ok
    assert t.snapshot().constraints == ["id > 0"]  # carried forward
    with pytest.raises(ConstraintViolation):
        t.write(
            spark.range(0, 3), mode="append", committed_at="t3"
        )  # id=0 violates the inherited check


def test_null_check_result_counts_as_violation(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.createDataFrame([(None,)], "v long")
    with pytest.raises(ConstraintViolation):
        t.write(df, committed_at="t1", constraints=("v > 0",))


def test_merge_rows_honors_constraints(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(str(tmp_path / "vt"))
    t.write(
        spark.range(1, 20).withColumn("v", F.col("id")),
        committed_at="t1",
        constraints=("v > 0",),
    )
    before = t.current_version()
    bad = spark.createDataFrame([(5, -1)], "id long, v long")
    with pytest.raises(ConstraintViolation):
        t.merge_rows(spark, bad, ["id"], committed_at="t2")
    # whole merge rolled back: no new version, id=5 untouched
    assert t.current_version() == before
    assert {r["v"] for r in t.read(spark).filter("id = 5").collect()} == {5}


def test_changes_rejects_reserved_column_names(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(3).withColumn("_w", F.lit(1)), committed_at="t1")
    t.write(spark.range(3, 5).withColumn("_w", F.lit(1)), mode="append",
            committed_at="t2")
    with pytest.raises(ValueError, match="reserves column names"):
        t.changes(spark, 1, 2)


def test_merge_rows_records_evolved_schema(spark, tmp_path):
    """Regression: the committed manifest used to record the PRE-merge
    schema, dropping columns the merge source introduced."""
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 5), committed_at="t1")
    src = spark.range(2, 4).withColumn("extra", F.lit("x"))
    t.merge_rows(spark, src, ["id"], committed_at="t2")
    import json as _json

    fields = {
        f["name"]
        for f in _json.loads(t.snapshot().schema_json)["fields"]
    }
    assert fields == {"id", "extra"}


def test_delete_where_preserves_evolved_columns(spark, tmp_path):
    """Regression: the copy-on-write read used one file's footer (path
    order), silently dropping schema-evolved columns from rewrites."""
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10).withColumn("val", F.lit(1)), committed_at="t1")
    t.write(
        spark.range(10, 20).withColumn("val", F.lit(2)).withColumn(
            "note", F.lit("n")
        ),
        mode="append",
        committed_at="t2",
    )
    t.delete_where(spark, "id IN (1, 15)", committed_at="t3")
    rows = {r["id"]: (r["val"], r["note"]) for r in t.read(spark).collect()}
    assert 1 not in rows and 15 not in rows and len(rows) == 18
    assert rows[16] == (2, "n")  # evolved column survived the rewrite
    assert rows[2] == (1, None)


def test_delete_where_preserves_skipping_stats(spark, tmp_path):
    """Regression: mutation used to stage survivors without stats,
    decaying the skipping index file by file."""
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(
        spark.range(0, 800).repartitionByRange(8, "id"),
        committed_at="t1",
        stats_cols=("id",),
    )
    t.delete_where(spark, "id = 105", committed_at="t2")
    assert all("stats" in f for f in t.snapshot().files)
    _, rep = t.read_pruned(spark, "id", 300, 310)
    assert rep["files_read"] == 1  # index still effective post-mutation


def test_stats_handle_decimal_and_date_columns(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.createDataFrame(
        [
            (Decimal("10.50"), dt.date(2024, 1, 5)),
            (Decimal("99.99"), dt.date(2024, 3, 1)),
        ],
        "price decimal(10,2), day date",
    ).coalesce(1)  # one file, so one file's stats are probed
    # used to crash json.dumps on Decimal min/max
    t.write(df, committed_at="t1", stats_cols=("price", "day"))

    got, rep = t.read_pruned(spark, "day", dt.date(2024, 1, 1),
                             dt.date(2024, 1, 31))
    assert [str(r["price"]) for r in got.collect()] == ["10.50"]
    got2, _ = t.read_pruned(spark, "price", Decimal("99.00"),
                            Decimal("100.00"))
    assert [str(r["price"]) for r in got2.collect()] == ["99.99"]
    # probe fully outside the range skips the (single) file
    _, rep3 = t.read_pruned(spark, "day", dt.date(2030, 1, 1))
    assert rep3["files_read"] == 0


def test_merge_rows_matches_null_keys(spark, tmp_path):
    """NULL business keys are first-class in MERGE (eqNullSafe matching):
    upserting a NULL-keyed row must replace the existing NULL-keyed row,
    not leave it in place and append a duplicate."""
    t = VersionedTable(str(tmp_path / "vt"))
    base = spark.createDataFrame(
        [(1, "a"), (None, "old"), (3, "c")], "id long, v string"
    )
    t.write(base, committed_at="t1")

    src = spark.createDataFrame([(None, "new")], "id long, v string")
    t.merge_rows(spark, src, ["id"], committed_at="t2")

    rows = {(r["id"], r["v"]) for r in t.read(spark).collect()}
    assert rows == {(1, "a"), (None, "new"), (3, "c")}


def test_bloom_index_skips_files_on_unclustered_column(spark, tmp_path):
    """Per-file bloom index: on a HASH-distributed layout (every file
    spans the full id range, so min/max stats can never prune), a point
    lookup through the bloom skips most files and never misses the
    matching row (no false negatives)."""
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_bloom"))
    df = spark.range(4000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    # repartition by id HASH: values scatter uniformly — min/max useless
    vt.write(
        df.repartition(8, "id"),
        mode="overwrite",
        stats_cols=("id",),
        bloom_cols=("id",),
    )
    snap = vt.snapshot()
    assert len(snap.files) == 8
    assert all("bloom" in f and "id" in f["bloom"] for f in snap.files)

    # min/max CANNOT prune this layout
    _, rep_minmax = vt.read_pruned(spark, "id", 1234)
    assert rep_minmax["files_skipped"] == 0

    # the bloom prunes most files and always keeps the true one
    out, rep = vt.read_bloom_pruned(spark, "id", 1234)
    assert rep["files_read"] < rep["files_total"]
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 1234

    # every present value is found (no false negatives), sampled ids
    for probe in (0, 77, 1999, 3999):
        out, _ = vt.read_bloom_pruned(spark, "id", probe)
        assert [r["id"] for r in out.collect()] == [probe]

    # absent value: typically all files skipped; result always empty
    out, rep = vt.read_bloom_pruned(spark, "id", 10**9)
    assert out.count() == 0


def test_bloom_index_conservative_without_index(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_bloom_none"))
    vt.write(spark.range(100).repartition(4), mode="overwrite")
    out, rep = vt.read_bloom_pruned(spark, "id", 50)
    assert rep["files_skipped"] == 0
    assert [r["id"] for r in out.collect()] == [50]


def test_bloom_index_string_column_and_null_probe(spark, tmp_path):
    from faers_datalakehouse_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_bloom_str"))
    df = spark.range(500).select(
        F.concat(F.lit("user_"), F.col("id").cast("string")).alias("name")
    )
    vt.write(df.repartition(6, "name"), mode="overwrite", bloom_cols=("name",))
    out, rep = vt.read_bloom_pruned(spark, "name", "user_123")
    assert rep["files_read"] < rep["files_total"]
    assert [r["name"] for r in out.collect()] == ["user_123"]
    with pytest.raises(ValueError, match="NULL"):
        vt.read_bloom_pruned(spark, "name", None)
