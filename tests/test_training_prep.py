"""Unit tests for plans/training_prep.py (vocab / BPE / packing / shards).

The sf0.01 oracle parity is covered by the driver gate; these pin the edge
cases the oracle data can't reach.
"""

from __future__ import annotations

from faers_datalakehouse_spark.plans import training_prep as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def test_bpe_pairs_skip_single_char_words(spark, tmp_path):
    # "a" must contribute nothing (Spark sequence(1, 0) reverses — the
    # module filters len>=2 first); "abc" → "ab","bc"; case-folded
    _docs(spark, [(1, "a ABC ab")]).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = T.bpe_pair_counts_query(spark, str(tmp_path), top_n=10).collect()
    got = {r["pair"]: r["n_occurrences"] for r in out}
    assert got == {"ab": 2, "bc": 1}


def test_vocab_stats_tf_and_df_distinct(spark, tmp_path):
    _docs(spark, [(1, "x x y"), (2, "x z!z")]).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = T.vocab_stats_query(spark, str(tmp_path), top_n=10).collect()
    by_term = {r["term"]: (r["n_occurrences"], r["n_docs"]) for r in out}
    assert by_term == {"x": (3, 2), "y": (1, 1), "z": (2, 1)}
    # ordering: tf desc, then term asc
    assert [r["term"] for r in out] == ["x", "z", "y"]


def test_pack_sequences_running_offsets(spark, tmp_path):
    # single shard so offsets are a plain prefix sum in doc_id order
    _docs(
        spark,
        [(i, " ".join(["t"] * 30)) for i in range(6)],
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = T.pack_sequences_query(
        spark, str(tmp_path), budget=64, n_shards=1
    ).collect()
    assert [r["doc_id"] for r in out] == list(range(6))
    assert [r["start_tok"] for r in out] == [0, 30, 60, 90, 120, 150]
    # 64-token packs: starts 0,30 → pack 0; 60,90,120 → 0? no: 60//64=0,
    # 90//64=1, 120//64=1, 150//64=2
    assert [r["pack_id"] for r in out] == [0, 0, 0, 1, 1, 2]


def test_shard_manifest_fingerprint_order_independent(spark, tmp_path):
    rows = [(i, f"doc number {i}") for i in range(40)]
    _docs(spark, rows).write.parquet(f"{tmp_path}/documents.parquet")
    base = T.shard_manifest_query(spark, str(tmp_path), n_shards=4).collect()
    assert sum(r["n_docs"] for r in base) == 40
    # recompute from a repartitioned, reversed frame — identical manifest
    _docs(spark, rows[::-1]).repartition(7).write.parquet(
        f"{tmp_path}/documents2.parquet", mode="overwrite"
    )
    import shutil

    shutil.rmtree(f"{tmp_path}/documents.parquet")
    shutil.move(
        f"{tmp_path}/documents2.parquet", f"{tmp_path}/documents.parquet"
    )
    again = T.shard_manifest_query(spark, str(tmp_path), n_shards=4).collect()
    key = lambda r: r["shard_id"]  # noqa: E731
    assert sorted(map(tuple, base), key=lambda t: t[0]) == sorted(
        map(tuple, again), key=lambda t: t[0]
    )
