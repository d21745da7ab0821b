"""Unigram surprisal scoring: hand-checked integer math, the score order a
band-pass filter relies on, and the broadcast-model plan shape."""

from __future__ import annotations

from faers_datalakehouse_spark.operators.surprisal import (
    surprisal_scores,
    unigram_model,
    corpus_tokens,
)


def test_surprisal_hand_checked(spark):
    # tokens: a a b c -> N=4, bits(N)=2; count(a)=2 -> bits 1; b,c -> bits 0
    # surprisal: a = 2-1 = 1; b = c = 2-0 = 2
    docs = spark.createDataFrame(
        [(1, "A, a b!"), (2, "c")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in surprisal_scores(docs).collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["sum_bits"] == 1 + 1 + 2
    assert rows[1]["avg_surprisal_bits"] == 4.0 / 3.0
    assert rows[2]["n_tokens"] == 1
    assert rows[2]["sum_bits"] == 2
    assert rows[2]["avg_surprisal_bits"] == 2.0


def test_surprisal_filter_band_pass(spark):
    # boilerplate doc repeats the dominant token (low bits); garble doc is
    # all-singleton tokens (high bits); normal doc mixes
    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "qz xv jk wm yr bn lp dg"),
            (3, "the cat the dog the bird the fish"),
        ],
        ["doc_id", "text"],
    )
    scores = {
        r["doc_id"]: r["avg_surprisal_bits"]
        for r in surprisal_scores(docs).collect()
    }
    assert scores[1] < scores[3] < scores[2]


def test_surprisal_external_model(spark):
    ref = spark.createDataFrame([(1, "a a a b")], ["doc_id", "text"])
    model = unigram_model(corpus_tokens(ref))
    target = spark.createDataFrame([(9, "a b zz")], ["doc_id", "text"])
    row = surprisal_scores(target, model=model).collect()[0]
    # 'zz' is out-of-model and dropped; N=4 (bits 2), a->bits 1, b->bits 0
    assert row["n_tokens"] == 2
    assert row["sum_bits"] == (2 - 1) + (2 - 0)


def test_surprisal_model_join_broadcasts(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        surprisal_scores(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # vocabulary never shuffles the corpus
