"""Size-aware input materialization for ``bucketed_global_rank``
(VERDICT r12 item 3, shipped r13).

The rank primitive consumes its input twice (bucket counts + final
join); when the input is an expensive aggregate over a corpus-sized
scan, that duplicated branch is a second corpus pass at cluster scale.
The ``_auto_materialize`` policy eagerly checkpoints the input ONLY
when (a) its optimized plan contains an Aggregate, (b) it is not
already materialized (LogicalRDD / InMemoryRelation), and (c) the
scanned-bytes estimate reaches ``RANK_MATERIALIZE_BYTES`` (8 GiB — a
deliberate no-op at bench scale, where the r12 persist A/B showed the
barrier regressing every light consumer).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators import normalize
from faers_datalakehouse_spark.operators.normalize import (
    _auto_materialize,
    bucketed_global_rank,
)


def _agg_input(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("source").agg(
        F.sum("n_chars").alias("v"), F.min("doc_id").alias("tb")
    )


def test_default_threshold_is_noop_at_test_scale(spark, sf_dir):
    assert _auto_materialize(_agg_input(spark, sf_dir)) is False


def test_policy_shape_conditions(spark, sf_dir, monkeypatch):
    # everything is over-threshold
    monkeypatch.setattr(normalize, "RANK_MATERIALIZE_BYTES", 1)
    agg = _agg_input(spark, sf_dir)
    # aggregate over a parquet scan: materialize
    assert _auto_materialize(agg) is True
    # already-materialized input (the caller checkpointed a level):
    # never re-checkpoint
    assert _auto_materialize(agg.localCheckpoint(eager=True)) is False
    # cached input: recompute reads the cache, skip. Probe through a
    # FRESH plan-equal frame: a Dataset memoizes its QueryExecution,
    # so the frame persisted above would report its pre-persist plan
    # (cache substitution keys on the analyzed plan, not the object)
    cached = agg.persist()
    try:
        cached.count()
        assert _auto_materialize(_agg_input(spark, sf_dir)) is False
    finally:
        cached.unpersist()
    # plain scan (no aggregate): recompute IS the scan, skip
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _auto_materialize(docs) is False


def test_materialized_rank_rows_identical(spark, sf_dir, monkeypatch):
    agg = _agg_input(spark, sf_dir)

    def ranked():
        return sorted(
            tuple(r) for r in bucketed_global_rank(agg, "source", "v", "tb")
            .select("source", "v", "tb", "rnk", "n_group")
            .collect()
        )

    lazy = ranked()
    monkeypatch.setattr(normalize, "RANK_MATERIALIZE_BYTES", 1)
    eager = ranked()
    assert lazy == eager and len(lazy) > 0
