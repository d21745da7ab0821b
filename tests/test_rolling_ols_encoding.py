"""Unit tests: rolling-distinct fan-out, interval-overlap join,
OOF target encoding, per-group OLS trend."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.interval_join import (
    interval_overlap_join,
    transit_audit_overlaps,
)
from faers_datalakehouse_spark.operators.rolling_distinct import (
    rolling_distinct_users,
)
from faers_datalakehouse_spark.operators.target_encoding import (
    target_encode_oof,
)
from faers_datalakehouse_spark.plans.analytics import group_ols_trend


def test_rolling_distinct_window1_equals_daily(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = rolling_distinct_users(ev, window_days=1).toPandas()
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("u"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("day")
        .toPandas()
    )
    assert list(got["rolling_users"]) == list(daily["u"])
    assert list(got["rolling_events"]) == list(daily["n"])


def test_rolling_distinct_monotone_vs_daily(spark, sf_dir):
    # a trailing-7d distinct count is >= the same day's 1-day count
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d1 = rolling_distinct_users(ev, window_days=1).toPandas()
    d7 = rolling_distinct_users(ev, window_days=7).toPandas()
    assert (d7["rolling_users"].values >= d1["rolling_users"].values).all()
    assert (d7["rolling_events"].values >= d1["rolling_events"].values).all()
    with pytest.raises(ValueError):
        rolling_distinct_users(ev, window_days=0)


def _intervals(spark, rows, s="s", e="e"):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_interval_overlap_join_semantics(spark):
    left = _intervals(
        spark,
        [
            {"lid": 1, "ls": 0, "le": 10},
            {"lid": 2, "ls": 40, "le": 45},
            {"lid": 3, "ls": -20, "le": -12},  # negative bounds
            {"lid": 4, "ls": 5, "le": 3},  # malformed: matches nothing
        ],
    )
    right = _intervals(
        spark,
        [
            {"rid": 1, "rs": 8, "re": 20},    # overlaps lid=1
            {"rid": 2, "rs": 11, "re": 39},   # gap: touches neither
            {"rid": 3, "rs": -15, "re": -1},  # overlaps lid=3
            {"rid": 4, "rs": 0, "re": 100},   # overlaps lid=1 and 2
        ],
    )
    got = (
        interval_overlap_join(
            left, right, "ls", "le", "rs", "re", cell_width=4
        )
        .select("lid", "rid")
        .orderBy("lid", "rid")
        .collect()
    )
    assert [(r.lid, r.rid) for r in got] == [
        (1, 1),
        (1, 4),
        (2, 4),
        (3, 3),
    ]


def test_interval_overlap_join_no_duplicate_pairs(spark):
    # intervals spanning many shared cells must still emit each pair once
    left = _intervals(spark, [{"lid": 1, "ls": 0, "le": 100}])
    right = _intervals(spark, [{"rid": 1, "rs": 50, "re": 120}])
    got = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", cell_width=3
    ).collect()
    assert len(got) == 1


def test_interval_overlap_join_validates(spark):
    df = _intervals(spark, [{"x": 1, "s": 0, "e": 1}])
    with pytest.raises(ValueError, match="disjoint"):
        interval_overlap_join(df, df, "s", "e", "s", "e")
    other = _intervals(spark, [{"y": 1, "rs": 0, "re": 1}])
    with pytest.raises(ValueError, match="cell_width"):
        interval_overlap_join(
            df, other, "s", "e", "rs", "re", cell_width=0
        )


def test_transit_audit_overlap_days_positive(spark, sf_dir):
    pdf = transit_audit_overlaps(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf["overlap_days"] >= 1).all()
    assert (pdf["overlap_days"] <= 5).all()  # audit windows span 5 days


def test_target_encode_oof_identity(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    enc = target_encode_oof(
        orders,
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100),
        k=4,
    ).toPandas()
    # per category: own-fold + OOF partitions the category total
    for _, grp in enc.groupby("category"):
        total_n = grp["n_fold"].sum()
        total_s = grp["sum_fold"].sum()
        assert (grp["n_fold"] + grp["n_oof"] == total_n).all()
        assert (grp["sum_fold"] + grp["sum_oof"] == total_s).all()
    # leakage guard: the OOF mean never equals the naive all-rows mean
    # unless folds are degenerate (not asserted — just shape/validity)
    assert set(enc["fold"].unique()) <= {0, 1, 2, 3}
    with pytest.raises(ValueError):
        target_encode_oof(
            orders, "o_orderpriority", "o_orderkey", F.lit(1), k=1
        )


def test_group_ols_trend_matches_numpy(spark, sf_dir):
    got = group_ols_trend(spark, sf_dir).toPandas()
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("event_type").alias("g"),
            F.to_date("ts").alias("day"),
        )
        .groupBy("g", "day")
        .count()
        .toPandas()
    )
    import pandas as pd

    ev["x"] = (
        pd.to_datetime(ev["day"]) - pd.Timestamp("2024-01-01")
    ).dt.days
    for _, row in got.iterrows():
        sub = ev[ev["g"] == row["event_type"]]
        slope, intercept = np.polyfit(
            sub["x"].astype(float), sub["count"].astype(float), 1
        )
        assert row["slope"] == pytest.approx(slope, rel=1e-9)
        assert row["intercept"] == pytest.approx(intercept, rel=1e-9)
        assert 0.0 <= row["r2"] <= 1.0


def test_weighted_quantile_matches_naive(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from faers_datalakehouse_spark.operators.top_p import (
        weighted_quantile_multi,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.concat_ws(":", "l_orderkey", "l_linenumber").alias("rid"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.round("l_quantity").cast("long").alias("qty"),
    )
    quantiles = ((1, 2), (9, 10), (1, 4))
    got = (
        weighted_quantile_multi(
            li, "l_returnflag", "rid", "pc", "qty",
            [(qn, qd, f"q{qn}_{qd}") for qn, qd in quantiles],
        )
        .orderBy("g")
        .toPandas()
    )
    for qn, qd in quantiles:
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy("pc", "rid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        naive = (
            li.where(F.col("qty") > 0)
            .select(
                "l_returnflag",
                "pc",
                F.sum("qty").over(w).alias("cum"),
                F.sum("qty")
                .over(Window.partitionBy("l_returnflag"))
                .alias("tw"),
            )
            .where(F.col("cum") * qd >= qn * F.col("tw"))
            .groupBy("l_returnflag")
            .agg(F.min("pc").alias("value"))
            .orderBy("l_returnflag")
            .toPandas()
        )
        assert list(got[f"q{qn}_{qd}"]) == list(naive["value"]), (qn, qd)


def test_incremental_sessionize_bridges_old_sessions(spark):
    """A new event landing between two existing sessions (within gap of
    both) must merge them into one — the case a naive append-only
    implementation gets wrong."""
    import datetime as dt

    from pyspark.sql import Row

    from faers_datalakehouse_spark.operators.incremental import (
        incremental_sessionize,
        sessionize_state_over,
    )

    def ev(i, s, v=1.0):
        return Row(
            event_id=i, user_id=7, event_type="x", value=v,
            ts=dt.datetime.fromisoformat(f"2024-01-01 {s}"),
        )

    # two sessions 40 min apart (> 30 min gap)
    old = spark.createDataFrame(
        [ev(1, "10:00:00"), ev(2, "10:10:00"), ev(3, "10:50:00")]
    )
    state = sessionize_state_over(old)
    assert state.count() == 2
    # the bridge: 10:30 is within 30 min of 10:10 AND of 10:50
    bridge = spark.createDataFrame([ev(4, "10:30:00")])
    out = incremental_sessionize(state, bridge).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 4
    assert out[0]["session_start"].minute == 0
    assert out[0]["session_end"].minute == 50
    # untouched users pass through: add a disjoint user's batch
    other = spark.createDataFrame(
        [Row(event_id=9, user_id=8, event_type="x", value=1.0,
             ts=dt.datetime.fromisoformat("2024-01-01 09:00:00"))]
    )
    out2 = incremental_sessionize(
        spark.createDataFrame(out).select(
            "user_id", "session_start", "session_end", "n_events", "value_c"
        ),
        other,
    ).toPandas()
    assert sorted(out2["user_id"]) == [7, 8]
