"""SCD Type 2 merge semantics — the reference's untested core algorithm
(SURVEY.md §2.9); properties: idempotent re-run, change closes + inserts,
missing keys untouched, new keys inserted, history preserved."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.scd2 import (
    one_per_key,
    scd2_initial_load,
    scd2_merge,
    scd2_table_apply,
)

BK = ["customer_id"]
TRACKED = ["customer_name", "status"]


@pytest.fixture
def base(spark):
    return spark.createDataFrame(
        [("C001", "John Doe", "Active"), ("C002", "Jane Smith", "Inactive")],
        ["customer_id", "customer_name", "status"],
    )


def test_initial_load_metadata(base):
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    rows = dim.collect()
    assert len(rows) == 2
    for r in rows:
        assert r["is_current"] is True
        assert r["end_date"] is None
        assert r["effective_date"] == dt.date(2024, 1, 1)
        assert r["row_hash"] and r["dim_key"]


def test_rerun_same_input_is_noop(base):
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    merged = scd2_merge(dim, base, BK, TRACKED, "2024-06-01")
    assert merged.count() == 2
    assert merged.filter(F.col("is_current")).count() == 2
    # effective dates unchanged
    assert {r["effective_date"] for r in merged.collect()} == {dt.date(2024, 1, 1)}


def test_change_closes_and_inserts(spark, base):
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    changed = spark.createDataFrame(
        [("C001", "John Doe", "Suspended"), ("C002", "Jane Smith", "Inactive")],
        ["customer_id", "customer_name", "status"],
    )
    merged = scd2_merge(dim, changed, BK, TRACKED, "2024-06-01")
    c1 = {
        (r["status"], r["is_current"], r["effective_date"], r["end_date"])
        for r in merged.filter(F.col("customer_id") == "C001").collect()
    }
    assert c1 == {
        ("Active", False, dt.date(2024, 1, 1), dt.date(2024, 6, 1)),
        ("Suspended", True, dt.date(2024, 6, 1), None),
    }
    # untouched key stays a single current row
    assert merged.filter(F.col("customer_id") == "C002").count() == 1


def test_missing_key_untouched_and_new_key_inserted(spark, base):
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    batch = spark.createDataFrame(
        [("C003", "New Person", "Active")],  # C001/C002 absent
        ["customer_id", "customer_name", "status"],
    )
    merged = scd2_merge(dim, batch, BK, TRACKED, "2024-06-01")
    assert merged.count() == 3
    assert merged.filter(F.col("is_current")).count() == 3
    c3 = merged.filter(F.col("customer_id") == "C003").collect()[0]
    assert c3["effective_date"] == dt.date(2024, 6, 1) and c3["is_current"]


def test_second_change_keeps_full_history(spark, base):
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    v2 = spark.createDataFrame(
        [("C001", "John Doe", "Suspended")], ["customer_id", "customer_name", "status"]
    )
    dim = scd2_merge(dim, v2, BK, TRACKED, "2024-03-01")
    v3 = spark.createDataFrame(
        [("C001", "John Doe", "Closed")], ["customer_id", "customer_name", "status"]
    )
    dim = scd2_merge(dim, v3, BK, TRACKED, "2024-06-01")
    hist = (
        dim.filter(F.col("customer_id") == "C001")
        .orderBy("effective_date")
        .collect()
    )
    assert [(r["status"], r["is_current"]) for r in hist] == [
        ("Active", False),
        ("Suspended", False),
        ("Closed", True),
    ]
    assert hist[0]["end_date"] == dt.date(2024, 3, 1)
    assert hist[1]["end_date"] == dt.date(2024, 6, 1)


def test_source_duplicates_are_collapsed(spark, base):
    dup = spark.createDataFrame(
        [("C009", "Dup", "A"), ("C009", "Dup", "A")],
        ["customer_id", "customer_name", "status"],
    )
    dim = scd2_initial_load(dup, BK, TRACKED, "2024-01-01")
    assert dim.count() == 1


def test_null_business_key_survives_merge(spark):
    base = spark.createDataFrame(
        [(None, "Null Key", "Active"), ("C001", "John Doe", "Active")],
        "customer_id string, customer_name string, status string",
    )
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    batch = spark.createDataFrame(
        [(None, "Null Key", "Suspended")],
        "customer_id string, customer_name string, status string",
    )
    merged = scd2_merge(dim, batch, BK, TRACKED, "2024-06-01")
    nulls = merged.filter(F.col("customer_id").isNull()).collect()
    assert {(r["status"], r["is_current"]) for r in nulls} == {
        ("Active", False),
        ("Suspended", True),
    }
    assert merged.count() == 3


def _rows(df):
    return sorted(
        (r["customer_id"], r["status"], str(r["effective_date"]), str(r["end_date"]),
         r["is_current"])
        for r in df.collect()
    )


def test_merge_dedupes_by_caller_order(spark, base):
    """Duplicate keys that differ only in the order columns: the merge's
    one dedupe keeps the row ``one_per_key`` keeps under the same order,
    so pre-reducing the source changes nothing."""
    dim = scd2_initial_load(base, BK, TRACKED, "2024-01-01")
    dup = spark.createDataFrame(
        [("C001", "John Doe", "Closed", 2), ("C001", "John Doe", "Suspended", 1)],
        "customer_id string, customer_name string, status string, seq int",
    )
    for order, winner in ((["seq"], "Suspended"), ([F.col("seq").desc()], "Closed"),
                          (["status"], "Closed"), ([F.col("status").desc()], "Suspended")):
        merged = scd2_merge(dim, dup, BK, TRACKED, "2024-06-01", order_cols=order)
        assert "seq" not in merged.columns
        cur = merged.filter("is_current AND customer_id = 'C001'").collect()
        assert [r["status"] for r in cur] == [winner], order
        picked = one_per_key(dup, BK, order).drop("seq")
        assert _rows(merged) == _rows(
            scd2_merge(dim, picked, BK, TRACKED, "2024-06-01")
        )
    # an order-only column ranks the initial load's pick and is dropped too
    first = scd2_initial_load(dup, BK, TRACKED, "2024-01-01", order_cols=["seq"])
    assert [r["status"] for r in first.collect()] == ["Suspended"]
    assert "seq" not in first.columns


def test_table_apply_swaps_stage_and_recovers_interrupted_swap(spark, base):
    t = "scd2_apply_swap"
    stage = f"{t}__stage"
    for name in (t, stage):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    changed = spark.createDataFrame(
        [("C001", "John Doe", "Suspended")], ["customer_id", "customer_name", "status"]
    )
    scd2_table_apply(spark, t, base, BK, TRACKED, "2024-01-01")
    scd2_table_apply(spark, t, changed, BK, TRACKED, "2024-06-01")
    assert not spark.catalog.tableExists(stage)
    before = _rows(spark.table(t))
    assert ("C001", "Active", "2024-01-01", "2024-06-01", False) in before

    # a crash after the target's drop and before the rename leaves only
    # the stage; the next apply must put it back, not initial-load
    spark.sql(f"ALTER TABLE {t} RENAME TO {stage}")
    scd2_table_apply(spark, t, changed, BK, TRACKED, "2024-09-01")
    assert _rows(spark.table(t)) == before
    assert not spark.catalog.tableExists(stage)
