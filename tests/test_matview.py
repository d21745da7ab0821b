"""Incrementally-maintained materialized aggregate views: batch-by-batch
refresh equals the full recompute, and only affected bucket partitions
are rewritten."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.matview import IncrementalMatView


def _mv(tmp_path, n_buckets=8):
    return IncrementalMatView(
        path=str(tmp_path / "mv"),
        group_keys=["k"],
        measures={
            "n": ("count", ""),
            "total": ("sum", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
        },
        n_buckets=n_buckets,
    )


def _src(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .withColumn("k", (F.col("id") % 10).cast("int"))
        .withColumn("v", F.col("id") * 3)
        .drop("id")
    )


def _as_dict(df):
    return {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"]) for r in df.collect()
    }


def test_incremental_equals_full_recompute(spark, tmp_path):
    mv = _mv(tmp_path)
    full = _src(spark, 0, 300)
    for lo, hi in [(0, 100), (100, 220), (220, 300)]:
        mv.refresh(_src(spark, lo, hi))

    expect = _as_dict(
        full.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )
    assert _as_dict(mv.read(spark)) == expect


def test_refresh_touches_only_affected_buckets(spark, tmp_path):
    mv = _mv(tmp_path, n_buckets=16)
    mv.refresh(_src(spark, 0, 200))  # all 10 keys seeded
    state = tmp_path / "mv"
    before = {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in state.glob("_bucket=*")
    }

    # a delta touching exactly one key -> exactly one bucket rewritten
    one = spark.createDataFrame([(3, 999)], "k int, v long")
    info = mv.refresh(one)
    assert info["buckets_touched"] == 1

    after = {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in state.glob("_bucket=*")
    }
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1
    # untouched buckets keep their files byte-identical (same names)
    assert all(before[b] == after[b] for b in before if b not in changed)


def test_mergeable_aggs_only(tmp_path):
    with pytest.raises(ValueError, match="avg belong at read time"):
        IncrementalMatView(
            path=str(tmp_path / "mv"),
            group_keys=["k"],
            measures={"a": ("avg", "v")},
        )


def test_empty_batch_is_noop(spark, tmp_path):
    mv = _mv(tmp_path)
    mv.refresh(_src(spark, 0, 50))
    before = _as_dict(mv.read(spark))
    info = mv.refresh(_src(spark, 0, 50).filter(F.lit(False)))
    assert info["buckets_touched"] == 0
    assert _as_dict(mv.read(spark)) == before


def test_optimize_compacts_bucket_files(spark, tmp_path):
    mv = _mv(tmp_path, n_buckets=4)
    for lo, hi in [(0, 60), (60, 120), (120, 180), (180, 240)]:
        mv.refresh(_src(spark, lo, hi))
    before = _as_dict(mv.read(spark))

    info = mv.optimize(spark)
    assert info["files_after"] <= info["files_before"]
    assert info["files_after"] <= mv.n_buckets  # ~one file per bucket
    assert _as_dict(mv.read(spark)) == before  # content unchanged


def test_reserved_state_names_rejected(tmp_path):
    with pytest.raises(ValueError, match="reserved"):
        IncrementalMatView(
            path=str(tmp_path / "mv"),
            group_keys=["_bucket"],
            measures={"n": ("count", "")},
        )
