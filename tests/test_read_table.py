"""The schema-cached testdata read path (``sources.tables.read_table``) and
the one-parse projections of the star plans.

``read_table`` re-reads an unchanged parquet path with its remembered
schema, which starts no Spark job. These cases pin what the cache key must
cover (the files and the Parquet schema confs) and that the SQL-text
projections keep the Column-API plans' schemas exactly.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.conf import RuntimeConfig

from faers_datalakehouse_spark.functions.transforms import bucketize, decode_ladder
from faers_datalakehouse_spark.plans.date_dim import build_date_dim
from faers_datalakehouse_spark.plans.star import build_fact_sales
from faers_datalakehouse_spark.sources.tables import read_events, read_table


def _jobs_started(spark, fn):
    """(result of ``fn()``, Spark jobs it started), counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"read-table-test:{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _with_conf(spark, key, value, fn):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_cached_reread_of_unchanged_file_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, inferred = _jobs_started(spark, lambda: read_table(spark, str(tmp_path), "t"))
    again, jobs = _jobs_started(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert inferred >= 1  # the counter sees the schema-inference job
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_path_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["0", "1", "2"]


def test_nanos_as_long_flip_is_part_of_the_key(spark, events_with_ts_encoding):
    """TIMESTAMP(NANOS) is a LONG only under nanosAsLong; with it off the
    file has no Spark type, so the read must fail instead of returning the
    remembered LONG schema."""
    d = events_with_ts_encoding("ts_nanos")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert dict(_with_conf(spark, key, "true", lambda: read_table(spark, d, "events")).dtypes)[
        "ts"
    ] == "bigint"
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        _with_conf(spark, key, "false", lambda: read_table(spark, d, "events"))
    assert dict(_with_conf(spark, key, "true", lambda: read_table(spark, d, "events")).dtypes)[
        "ts"
    ] == "bigint"


def test_infer_timestamp_ntz_flip_changes_type(spark, events_with_ts_encoding):
    d = events_with_ts_encoding("ts_us_ntz")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ts = {
        v: dict(_with_conf(spark, key, v, lambda: read_table(spark, d, "events")).dtypes)["ts"]
        for v in ("true", "false")
    }
    assert ts == {"true": "timestamp_ntz", "false": "timestamp"}


def test_missing_path_still_raises(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "nope")
    # twice: a miss must not be remembered as an empty table
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "nope")


def test_read_events_sets_no_conf_on_get_spark_session(spark, sf_dir, monkeypatch):
    """get_spark sessions already read TIMESTAMP(NANOS) as LONG, so
    read_events must not touch the session-global conf (a set/restore
    races with concurrent readers of the same session)."""
    calls = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def counting(self, *a, _orig=orig, _name=name):
            calls.append((_name, a))
            return _orig(self, *a)

        monkeypatch.setattr(RuntimeConfig, name, counting)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(read_events(spark, sf_dir).dtypes)["ts"] == "timestamp"
    assert calls == []


# (name, type, nullable) of the Column-API plans before the projections
# became SQL text
DATE_DIM_SCHEMA = [
    ("date_key", "int", False), ("date_value", "date", False),
    ("year", "int", False), ("quarter", "int", False),
    ("quarter_name", "string", False), ("month", "int", False),
    ("month_name", "string", False), ("month_short_name", "string", False),
    ("day_of_month", "int", False), ("day_of_year", "int", False),
    ("iso_day_of_week", "int", False), ("day_name", "string", False),
    ("day_short_name", "string", False), ("iso_week", "int", False),
    ("date_string", "string", False), ("date_string_compact", "string", False),
    ("is_weekend", "boolean", False), ("is_weekday", "boolean", False),
    ("is_month_start", "boolean", False), ("is_month_end", "boolean", False),
    ("is_year_start", "boolean", False), ("is_year_end", "boolean", False),
    ("days_in_month", "int", False), ("week_of_month", "int", True),
    ("year_month", "string", False), ("year_quarter", "string", False),
    ("year_week", "string", False), ("is_leap_year", "boolean", True),
    ("season", "string", False), ("fiscal_year", "int", False),
    ("fiscal_quarter", "int", False), ("reporting_period", "string", False),
]

FACT_SALES_SCHEMA = [
    ("order_key", "bigint", True), ("line_number", "int", True),
    ("part_key", "bigint", True), ("supp_key", "bigint", True),
    ("cust_key", "bigint", True), ("order_date", "date", True),
    ("ship_date", "date", True), ("ship_delay_days", "int", True),
    ("quantity", "double", True), ("extended_price", "double", True),
    ("discount_rate", "double", True), ("tax_rate", "double", True),
    ("revenue", "double", True), ("charge", "double", True),
    ("discount_amount", "double", True), ("sales_score", "double", True),
    ("return_status", "string", False), ("line_status", "string", True),
    ("order_status", "string", False), ("priority_tier", "string", False),
    ("customer_name", "string", False), ("market_segment", "string", False),
    ("account_tier", "string", False), ("part_name", "string", False),
    ("part_brand", "string", False), ("supplier_name", "string", False),
    ("customer_nation", "string", False), ("customer_region", "string", False),
    ("data_quality_tier", "string", False),
]

FACT_DATE_COLUMNS = [
    ("order_date_key", "int", True), ("order_year", "int", True),
    ("order_quarter", "string", True), ("ordered_on_weekend", "boolean", True),
]


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def test_date_dim_schema_unchanged(spark):
    assert _fields(build_date_dim(spark)) == DATE_DIM_SCHEMA


@pytest.mark.parametrize("with_date_dim", [True, False])
def test_fact_sales_schema_unchanged(spark, sf_dir, with_date_dim):
    want = FACT_SALES_SCHEMA + (FACT_DATE_COLUMNS if with_date_dim else [])
    assert _fields(build_fact_sales(spark, sf_dir, with_date_dim)) == want


def test_ladders_quote_quote_and_backslash(spark):
    odd = "it's \\ odd"
    df = spark.createDataFrame([(odd, 1.0), ("x", 20000.0)], ["c", "v"])
    out = df.select(
        decode_ladder("c", {odd: "got 'it' \\"}, default="no 'match'").alias("d"),
        bucketize("v", [10000.0], ["low's", "high\\"], null_label="n'a").alias("b"),
    ).collect()
    assert [tuple(r) for r in out] == [
        ("got 'it' \\", "low's"),
        ("no 'match'", "high\\"),
    ]
