"""Deterministic HLL / count-min sketches: exact mergeability (the
property that makes them distributable), estimate error bounds, and
one-sided CMS error."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.sketches import (
    cms_build,
    cms_point,
    hll_estimate,
    hll_merge,
    hll_sketch,
)


def _regs(df):
    return {(r["bucket"], r["max_rank"]) for r in df.collect()}


def test_hll_merge_is_exact(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) register-for-register
    — so partial sketches from any partitioning agree bit-exactly."""
    full = spark.range(0, 2000)
    a, b = spark.range(0, 1300), spark.range(1100, 2000)  # overlapping
    merged = hll_merge(hll_sketch(a, "id"), hll_sketch(b, "id"))
    assert _regs(merged) == _regs(hll_sketch(full, "id"))


def test_hll_estimate_within_bound(spark):
    p = 8  # expected relative error ~1.04/sqrt(256) ~= 6.5%
    for n in (500, 5000, 50000):
        est = hll_estimate(hll_sketch(spark.range(n), "id", p=p), p=p)
        assert abs(est - n) / n < 0.2, (n, est)


def test_hll_order_and_duplication_invariant(spark):
    base = spark.range(0, 1000)
    dup = base.union(base).union(base).orderBy(F.rand(seed=7))
    assert _regs(hll_sketch(dup, "id")) == _regs(hll_sketch(base, "id"))


def test_hll_p_validation(spark):
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(spark.range(5), "id", p=20)


def test_cms_overestimates_never_under(spark):
    df = spark.range(0, 3000).withColumn(
        "k", (F.col("id") % 37).cast("string")
    )
    truth = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    sketch = cms_build(df, "k", depth=4, width=64)
    keys = df.select("k").distinct()
    est = {
        r["k"]: r["est_count"]
        for r in cms_point(sketch, keys, "k", depth=4, width=64).collect()
    }
    assert est.keys() == truth.keys()
    assert all(est[k] >= truth[k] for k in truth)
    # 37 keys in 64 columns x 4 rows: the min-over-rows is exact for most
    assert sum(est[k] == truth[k] for k in truth) >= 30


def test_cms_absent_key_small(spark):
    df = spark.range(0, 1000).withColumn("k", (F.col("id") % 5).cast("string"))
    sketch = cms_build(df, "k", depth=4, width=128)
    ghost = spark.createDataFrame([("nope",)], "k string")
    [row] = cms_point(sketch, ghost, "k", depth=4, width=128).collect()
    # 5 real keys in 128 columns: overwhelmingly likely no collision on
    # all 4 rows -> estimate 0; any value is necessarily < total rows
    assert row["est_count"] == 0


def test_hll_grouped_matches_per_group_sketch(spark):
    """Grouped registers == independently sketching each group's slice."""
    from faers_datalakehouse_spark.operators.sketches import (
        hll_sketch_grouped,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 700).alias("v")
    )
    grouped = hll_sketch_grouped(df, ["g"], "v")
    for g in (0, 1, 2):
        slice_regs = _regs(hll_sketch(df.filter(F.col("g") == g), "v"))
        got = {
            (r["bucket"], r["max_rank"])
            for r in grouped.filter(F.col("g") == g).collect()
        }
        assert got == slice_regs


def test_hll_grouped_estimate_engine_side(spark):
    from faers_datalakehouse_spark.operators.sketches import (
        hll_estimate_grouped,
        hll_sketch_grouped,
    )

    # group g has exactly (g+1)*400 distinct values
    parts = [
        spark.range(0, (g + 1) * 400).select(
            F.lit(g).alias("g"), (F.col("id") + 10_000 * g).alias("v")
        )
        for g in range(3)
    ]
    df = parts[0].union(parts[1]).union(parts[2])
    est = {
        r["g"]: r["estimate"]
        for r in hll_estimate_grouped(
            hll_sketch_grouped(df, ["g"], "v"), ["g"]
        ).collect()
    }
    for g in range(3):
        n = (g + 1) * 400
        assert abs(est[g] - n) / n < 0.2, (g, n, est[g])


def test_hll_grouped_estimate_agrees_with_driver_estimator(spark):
    """The engine-side estimator and the driver-side hll_estimate give
    the same number for the same registers (ungrouped case)."""
    from faers_datalakehouse_spark.operators.sketches import (
        hll_estimate_grouped,
    )

    regs = hll_sketch(spark.range(0, 2500), "id")
    driver = hll_estimate(regs, p=8)
    [row] = hll_estimate_grouped(
        regs.withColumn("g", F.lit(1)), ["g"]
    ).collect()
    assert abs(row["estimate"] - driver) < 1e-9 * max(driver, 1.0)


def test_streaming_sketch_fold_matches_batch(spark, tmp_path):
    """Registers folded micro-batch by micro-batch (foreachBatch +
    hll_merge against parquet state) equal the one-shot batch sketch —
    the mergeability property doing real streaming work."""
    src = tmp_path / "src"
    full = spark.range(0, 4000)
    full.filter("id < 2500").write.parquet(str(src / "b0"))
    full.filter("id >= 2500").write.parquet(str(src / "b1"))

    state_path = str(tmp_path / "regs")

    def fold(batch, _id):
        new = hll_sketch(batch, "id")
        try:
            old = spark.read.parquet(state_path)
            merged = hll_merge(old, new)
        except Exception:
            merged = new
        merged.write.mode("overwrite").parquet(state_path + "_tmp")
        spark.read.parquet(state_path + "_tmp").write.mode(
            "overwrite"
        ).parquet(state_path)

    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["bucket"], r["max_rank"])
        for r in spark.read.parquet(state_path).collect()
    }
    assert got == _regs(hll_sketch(full, "id"))


def test_hll_intersection_estimate_within_bound(spark, sf_dir):
    import math

    from pyspark.sql import functions as F

    from faers_datalakehouse_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )
    from faers_datalakehouse_spark.sources.tables import read_events

    p = 8
    events = read_events(spark, sf_dir)
    a_df = events.where(F.col("event_type") == "click")
    b_df = events.where(F.col("event_type") == "purchase")
    a = hll_sketch(a_df, "user_id", p)
    b = hll_sketch(b_df, "user_id", p)
    est = (
        hll_estimate(a, p)
        + hll_estimate(b, p)
        - hll_estimate(hll_merge(a, b), p)
    )
    true = (
        a_df.select("user_id")
        .intersect(b_df.select("user_id"))
        .count()
    )
    union_true = (
        a_df.select("user_id").union(b_df.select("user_id")).distinct().count()
    )
    # inclusion-exclusion compounds three sketch errors, each
    # ~1.04/sqrt(m) RELATIVE TO ITS OWN SET; bound against the union size
    tol = 5 * 1.04 / math.sqrt(1 << p) * union_true + 5
    assert abs(est - true) <= tol
