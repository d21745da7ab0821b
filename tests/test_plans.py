"""Plan-level tests: date dim, star fact, analytics suite, sources, and
plan-shape assertions (broadcasts / pushdown) on the testdata."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.plans.analytics import (
    pricing_summary,
    sessionize,
    topk_by_group,
    topk_parts,
)
from faers_datalakehouse_spark.plans.date_dim import build_date_dim
from faers_datalakehouse_spark.plans.star import build_fact_sales
from faers_datalakehouse_spark.sources.ingest import (
    add_ingestion_metadata,
    all_string_schema,
    read_csv_enforced,
)
from faers_datalakehouse_spark.sources.tables import read_events


def test_date_dim_known_dates(spark):
    dd = build_date_dim(spark, "2024-01-01", "2024-12-31")
    assert dd.count() == 366  # leap year
    feb29 = dd.filter(F.col("date_value") == F.lit("2024-02-29")).collect()[0]
    assert feb29["is_leap_year"] and feb29["iso_day_of_week"] == 4  # Thursday
    assert feb29["is_month_end"] and feb29["days_in_month"] == 29
    dec31 = dd.filter(F.col("date_value") == F.lit("2024-12-31")).collect()[0]
    assert dec31["day_of_year"] == 366 and dec31["fiscal_year"] == 2025


def test_fact_sales_grain_and_defaults(spark, sf_dir):
    fact = build_fact_sales(spark, sf_dir)
    li_count = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert fact.count() == li_count  # 1:1 grain with lineitem
    # inner joins guarantee these; left-join defaults never fire on clean data
    assert fact.filter(F.col("customer_name") == "UNKNOWN").count() == 0
    assert fact.filter(F.col("order_date_key").isNull()).count() == 0
    row = fact.filter(F.col("revenue") <= 0).count()
    assert row == 0


def test_fact_plan_uses_broadcast_joins(spark, sf_dir):
    fact = build_fact_sales(spark, sf_dir)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # Two joins may shuffle: lineitem⋈orders always, and orders⋈customer when
    # AQE declines to broadcast (customer scales with the fact, so it carries
    # no forced broadcast hint — see star.py module doc). All true dims
    # (part/supplier/nation/region/date) must stay broadcast.
    assert plan.count("SortMergeJoin") <= 2
    # The customer join must NOT carry a forced broadcast hint.
    logical = fact._jdf.queryExecution().optimizedPlan().toString()
    cust_join = [
        ln for ln in logical.splitlines() if "o_custkey" in ln and "c_custkey" in ln
    ]
    assert cust_join and all("strategy=broadcast" not in ln for ln in cust_join)


def test_pricing_summary_totals(spark, sf_dir):
    rows = pricing_summary(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert sum(r["count_order"] for r in rows) == li.count()
    assert all(r["sum_disc_price"] <= r["sum_base_price"] for r in rows)


def test_topk_shapes(spark, sf_dir):
    assert topk_parts(spark, sf_dir, k=5).count() == 5
    tkg = topk_by_group(spark, sf_dir, k=2).collect()
    assert all(r["rank_in_nation"] <= 2 for r in tkg)


def test_sessionize_gap_semantics(spark, sf_dir):
    sessions = sessionize(spark, sf_dir, gap_minutes=30)
    one_user = sessions.filter(F.col("user_id") == sessions.first()["user_id"])
    rows = one_user.orderBy("session_seq").collect()
    # session boundaries are strictly ordered in time
    for a, b in zip(rows, rows[1:]):
        assert a["session_end"] < b["session_start"]


def test_read_events_normalizes_current_testdata(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    first = ev.orderBy("event_id").first()
    assert first["ts"] >= dt.datetime(2024, 1, 1)


@pytest.mark.parametrize("encoding", ["ts_us_utc", "ts_us_ntz", "ts_nanos"])
def test_read_events_ts_encodings_equivalent(
    spark, sf_dir, events_with_ts_encoding, encoding
):
    """The driver's testdata has shipped events.ts as parquet TIMESTAMP(NANOS)
    (r1) and as timestamp[us] isAdjustedToUTC=false / TIMESTAMP_NTZ (r3).
    Pin all three observed encodings: read_events must surface a plain
    session-zoned TIMESTAMP and sessionize must produce identical output."""
    d = events_with_ts_encoding(encoding)

    ev = read_events(spark, d)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sessionize(spark, d, gap_minutes=30).collect()
    want = sessionize(spark, sf_dir, gap_minutes=30).collect()
    assert got == want


def test_funnel_steps_sequential_semantics(spark, tmp_path):
    """Steps must be strictly sequential per user: a purchase BEFORE the
    signup must not count, and step counts are monotone non-increasing."""
    import datetime as _dt

    from faers_datalakehouse_spark.plans.analytics import funnel_steps

    def ev(eid, uid, minute, etype):
        return (eid, _dt.datetime(2024, 1, 1, 0, minute), uid, etype, 1.0, "{}")

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"),
        ev(3, 1, 2, "signup"), ev(4, 1, 3, "purchase"),
        # user 2: purchase happens BEFORE signup -> stops at signup
        ev(5, 2, 0, "view"), ev(6, 2, 1, "click"),
        ev(7, 2, 3, "signup"), ev(8, 2, 2, "purchase"),
        # user 3: never clicks -> stops at view
        ev(9, 3, 0, "view"), ev(10, 3, 1, "signup"),
        # user 4: no view at all -> not even step 0
        ev(11, 4, 0, "click"), ev(12, 4, 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "funnel_events"
    df.coalesce(1).write.parquet(f"{d}/events.parquet")
    out = {r["step"]: r for r in funnel_steps(spark, str(d)).collect()}
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 2
    assert out["signup"]["n_users"] == 2
    assert out["purchase"]["n_users"] == 1
    assert out["purchase"]["pct_of_first"] == 1.0 / 3.0
    # plan: a single exchange for the user partitioning, stacked windows
    plan = funnel_steps(spark, str(d))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_csv_ingest_with_metadata(spark, tmp_path):
    p = tmp_path / "demo.csv"
    p.write_text("id$name$age\n1$alice$30\n2$bob$\nmalformed-line-without-seps\n")
    schema = all_string_schema(["id", "name", "age"])
    df = add_ingestion_metadata(
        read_csv_enforced(spark, str(p), schema), ingest_ts=F.lit("2024-01-01").cast("timestamp")
    )
    rows = df.collect()
    assert len(rows) == 3  # PERMISSIVE keeps the malformed row (null-filled)
    assert {r["id"] for r in rows} == {"1", "2", "malformed-line-without-seps"}
    assert all(r["_ingest_ts"] is not None for r in rows)
    assert all(r["_source_file"].endswith("demo.csv") for r in rows)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double" in plan


def _skew_events(spark):
    """Synthetic events engineered to straddle bucket boundaries: a hot
    user with sessions crossing hour edges (including one session spanning
    THREE consecutive buckets) plus normal users."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0

    def add(user, minutes_offsets):
        nonlocal eid
        for m in minutes_offsets:
            rows.append(
                (user, eid, base + dt.timedelta(minutes=m), float(eid % 7))
            )
            eid += 1

    # hot user: a session from 00:50 to 02:10 crossing two hour boundaries
    # (10-min steps < 30-min gap), then a >gap break, then a short session
    add("hot", [50, 60, 70, 80, 90, 100, 110, 120, 130])
    add("hot", [300, 305])
    # user whose events sit exactly at a bucket edge
    add("edge", [59, 61])          # one session across the boundary
    add("edge", [240, 241])        # later separate session
    # user entirely inside one bucket
    add("plain", [10, 15, 200])
    return spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"]
    )


def test_sessionize_skew_equals_plain_on_boundary_straddling_input(spark):
    from faers_datalakehouse_spark.plans.analytics import (
        sessionize_events_skew,
    )

    ev = _skew_events(spark)

    # plain path inline (same shape as analytics.sessionize, over ev)
    from pyspark.sql.window import Window as W

    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user))
    plain = (
        ev.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("is_new").over(by_user.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    # 1-hour buckets force several boundary stitches, including a 3-bucket
    # session for the hot user
    skew = sessionize_events_skew(ev, gap_minutes=30, bucket_hours=1)

    p = sorted(
        (r["user_id"], r["session_seq"], r["n_events"],
         str(r["session_start"]), str(r["session_end"]))
        for r in plain.collect()
    )
    s = sorted(
        (r["user_id"], r["session_seq"], r["n_events"],
         str(r["session_start"]), str(r["session_end"]))
        for r in skew.collect()
    )
    assert s == p
    # the hot user's long session must have been stitched back into ONE
    hot = [t for t in s if t[0] == "hot"]
    assert [t[2] for t in hot] == [9, 2]


def test_sessionize_skew_equals_plain_on_testdata(spark, sf_dir):
    from faers_datalakehouse_spark.plans.analytics import sessionize_skew

    want = sessionize(spark, sf_dir, gap_minutes=30).collect()
    got = sessionize_skew(spark, sf_dir, gap_minutes=30).collect()
    assert got == want


def test_sessionize_skew_plan_partitions_events_by_bucket(spark, sf_dir):
    """The event-level window must partition by (user_id, _bucket) — that
    bound on per-task partition size is the whole point; only the stitch
    pass over the compressed session frame may partition by user alone."""
    from faers_datalakehouse_spark.plans.analytics import sessionize_skew

    plan = sessionize_skew(spark, sf_dir, gap_minutes=30)._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    event_level = [s for s in specs if "_bucket" in s]
    assert event_level, f"no (user_id, _bucket)-partitioned window in plan:\n{plan[:2000]}"


def test_attribution_credits_first_and_last_touch(spark, tmp_path):
    """Engineered journey: first touch and last touch differ; conversions
    with no prior touch credit '(none)'."""
    import datetime as dt

    from faers_datalakehouse_spark.plans.analytics import attribution

    d = dt.datetime
    rows = [
        # u1: view -> click -> purchase(10): first=view, last=click
        (1, 1, d(2024, 1, 1, 9), "view", 0.0),
        (1, 2, d(2024, 1, 1, 10), "click", 0.0),
        (1, 3, d(2024, 1, 1, 11), "purchase", 10.0),
        # u2: cold purchase(5): '(none)'
        (2, 4, d(2024, 1, 2, 9), "purchase", 5.0),
        # u1 second purchase(2) after another view: first=view, last=view
        (1, 5, d(2024, 1, 2, 8), "view", 0.0),
        (1, 6, d(2024, 1, 2, 9), "purchase", 2.0),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"][:0] or
        ["user_id", "event_id", "ts", "event_type", "value"]
    )
    dirp = tmp_path / "attr_events"
    df.select("user_id", "event_id", "ts", "event_type", "value").write.parquet(
        str(dirp / "events.parquet")
    )
    out = {r["channel"]: r for r in attribution(spark, str(dirp)).collect()}
    assert out["view"]["first_touch_conversions"] == 2
    assert out["view"]["first_touch_value_c"] == 1200
    assert out["click"]["last_touch_conversions"] == 1
    assert out["click"]["last_touch_value_c"] == 1000
    assert out["view"]["last_touch_conversions"] == 1  # second purchase
    assert out["(none)"]["first_touch_conversions"] == 1
    assert out["(none)"]["first_touch_value_c"] == 500
