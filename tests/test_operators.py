"""Dedup / similarity / text operator tests on small inline corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.functions.text import (
    doc_fingerprint,
    language_id,
    token_count,
)
from faers_datalakehouse_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from faers_datalakehouse_spark.operators.similarity import (
    cosine_neardup_pairs,
    topk_neighbors_bruteforce,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_dedup_exact_normalizes(spark):
    df = _docs(
        spark,
        [
            (1, "Hello, World!", "en"),
            (2, "hello   world", "en"),  # same after normalization
            (3, "different doc entirely", "en"),
        ],
    )
    out = dedup_exact(df).collect()
    assert len(out) == 2
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep == {1: 2, 3: 1}


def test_ngram_jaccard_finds_neardup(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")
    c = "completely unrelated content about spark query engines and shuffles"
    df = _docs(spark, [(1, a, "en"), (2, b, "en"), (3, c, "en")])
    pairs = ngram_jaccard_pairs(df, threshold=0.5, length_band=100).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.5


def test_minhash_lsh_agrees_with_exact_on_strong_pairs(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    b = a + "lambda"
    c = "one two three four five six seven eight nine ten " * 5
    df = _docs(spark, [(1, a, "en"), (2, b, "en"), (3, c, "en")])
    pairs = minhash_lsh_pairs(df, threshold=0.5)
    got = {(p["id_a"], p["id_b"]) for p in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_simhash_neardup(spark):
    # SimHash is a weighted bag-of-words fingerprint: a reordered duplicate
    # has Hamming distance 0; an unrelated doc is far away.
    a = "spark catalyst optimizer pushes filters into the parquet scan layer"
    b = "the parquet scan layer pushes filters into spark catalyst optimizer"
    c = "zebra quantum sandwich umbrella helicopter mountain river " * 3
    df = _docs(spark, [(1, a, "en"), (2, b, "en"), (3, c, "en")])
    got = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in simhash_neardup_pairs(df, max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_topk_neighbors_bruteforce(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = topk_neighbors_bruteforce(
        emb, emb.filter(F.col("vec_id") == 1), k=2
    ).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]


def test_cosine_neardup_pairs(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"]) for r in cosine_neardup_pairs(emb, threshold=0.95).collect()}
    assert got == {(1, 2)}


def test_lsh_bucketed_neardup_precision_and_plan(spark, sf_dir):
    """The default near-dup path: every emitted pair must also be found by the
    exact kernel (precision 1.0), and the plan must be a bucket equi-join —
    never an all-pairs cross product."""
    from faers_datalakehouse_spark.operators.similarity import lsh_bucketed_neardup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lsh = lsh_bucketed_neardup(emb, threshold=0.4)
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    got = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh.collect()}
    assert got <= exact  # subset: probabilistic recall, exact scores
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_recall_monotone_in_nprobe(spark, sf_dir):
    """Probing more cells can only add candidates: recall vs brute force must
    be non-decreasing in nprobe, and reach 1.0 at nprobe = n_cells."""
    from faers_datalakehouse_spark.operators.similarity import ivf_topk_neighbors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_neighbors_bruteforce(emb, qs, k=5).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk_neighbors(
                emb, qs, k=5, n_cells=8, nprobe=nprobe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r_all = recall(1), recall(2), recall(8)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0  # probing every cell IS brute force


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, it's 2024!"), (2, "")], ["doc_id", "text"]
    )
    out = df.select(
        token_count("text").alias("ws"),
        token_count("text", "regex").alias("rx"),
        doc_fingerprint("text").alias("fp"),
    ).collect()
    assert out[0]["ws"] == 4
    # Hello | world | , | it | ' | s | 2024 | !
    assert out[0]["rx"] == 8
    assert len(out[0]["fp"]) == 32
    assert out[1]["ws"] == 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in the house for it was big"),
            (2, "der Hund und die Katze ist nicht mit der Maus"),
            (3, "le chat et la maison est dans les arbres pour que"),
        ],
        ["doc_id", "text"],
    )
    got = [r[0] for r in df.select(language_id("text")).collect()]
    assert got == ["en", "de", "fr"]


def test_range_join_bucketed(spark):
    from faers_datalakehouse_spark.operators.ranges import range_join

    left = spark.createDataFrame(
        [(1, 5.0), (1, 25.0), (1, 105.0), (2, 25.0)], ["k", "p"]
    )
    right = spark.createDataFrame(
        # interval spanning multiple bins, touching boundaries inclusively
        [(1, 0.0, 30.0, "a"), (1, 100.0, 110.0, "b"), (2, 90.0, 99.0, "c")],
        ["k", "s", "e", "tag"],
    )
    out = range_join(
        left, right, point="p", start="s", end="e", on=["k"], bin_width=10
    )
    got = {(r["k"], r["p"], r["tag"]) for r in out.collect()}
    assert got == {(1, 5.0, "a"), (1, 25.0, "a"), (1, 105.0, "b")}
    # key isolation: k=2 point 25 does not match k=1's [0,30]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_inclusive_bounds(spark):
    from faers_datalakehouse_spark.operators.ranges import range_join

    left = spark.createDataFrame([(1, 0.0), (1, 30.0), (1, 30.001)], ["k", "p"])
    right = spark.createDataFrame([(1, 0.0, 30.0)], ["k", "s", "e"])
    got = sorted(
        r["p"]
        for r in range_join(
            left, right, point="p", start="s", end="e", on=["k"], bin_width=7
        ).collect()
    )
    assert got == [0.0, 30.0]  # BETWEEN-inclusive, strict above


def test_range_join_rejects_colliding_names(spark):
    from faers_datalakehouse_spark.operators.ranges import range_join

    left = spark.createDataFrame([(1, 5.0, "x")], ["k", "p", "tag"])
    right = spark.createDataFrame([(1, 0.0, 30.0, "y")], ["k", "s", "e", "tag"])
    with pytest.raises(ValueError, match="disjoint"):
        range_join(left, right, point="p", start="s", end="e", on=["k"])


def test_salted_join_unhashable_columns(spark):
    from faers_datalakehouse_spark.operators.skew import salted_join

    large = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"b": 2})], "k int, m map<string,int>"
    )
    small = spark.createDataFrame([(1, "dim")], ["k", "name"])
    # map-typed column can't feed the default salt and k alone can't spread
    with pytest.raises(ValueError, match="large_uniquifier"):
        salted_join(large, small, on=["k"]).collect()
    # explicit uniquifier works regardless of the map column
    out = salted_join(large, small, on=["k"], large_uniquifier="k").collect()
    assert len(out) == 2


def test_redact_pii_and_chunking(spark):
    from faers_datalakehouse_spark.functions.text import chunk_tokens, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.org or call 555-123-4567 now"),
            (2, "ssn 123-45-6789 leaked"),
            (3, "clean text with no pii at all"),
        ],
        ["doc_id", "text"],
    )
    red = {r["doc_id"]: r["r"] for r in df.select("doc_id", redact_pii("text").alias("r")).collect()}
    assert "<EMAIL>" in red[1] and "<PHONE>" in red[1]
    assert "jane" not in red[1] and "555" not in red[1]
    assert red[2] == "ssn <SSN> leaked"
    assert red[3] == "clean text with no pii at all"

    chunks = df.filter("doc_id = 3").select(
        F.explode(chunk_tokens("text", chunk_size=4, overlap=2)).alias("c")
    ).select("c.chunk_index", "c.chunk_text").collect()
    texts = [r["chunk_text"] for r in chunks]
    # 7 words, size 4, stride 2 → ceil((7-2)/2)=3 chunks
    assert texts == [
        "clean text with no",
        "with no pii at",
        "pii at all",
    ]


def test_deterministic_split_stable_under_repartition(spark):
    """Membership must be a pure function of the id — identical after any
    repartitioning (the randomSplit failure mode this operator replaces)."""
    from faers_datalakehouse_spark.operators.sampling import (
        deterministic_split,
        stratified_cap,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(df, "doc_id").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(df.repartition(17), "doc_id").collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.93 < frac < 0.99  # ~96% train

    strat = df.withColumn("g", (F.col("doc_id") % 3).cast("int"))
    s1 = {(r["g"], r["doc_id"]) for r in stratified_cap(strat, ["g"], "doc_id", 10).collect()}
    s2 = {(r["g"], r["doc_id"]) for r in stratified_cap(strat.repartition(13), ["g"], "doc_id", 10).collect()}
    assert s1 == s2 and len(s1) == 30


def test_repetition_stats_edges(spark):
    from faers_datalakehouse_spark.functions.text import repetition_stats_cols

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # total repetition
            (2, "a b c d e f"),                  # no repetition
            (3, ""),                             # empty → all zeros
            (4, "x"),                            # 1 token: no 2/3-grams
            (5, "a b a b a b"),                  # repeated 2-grams, no adjacents
        ],
        ["doc_id", "text"],
    )
    r = repetition_stats_cols(F.col("text"))
    rows = {
        row["doc_id"]: row
        for row in df.select(
            "doc_id", *[v.alias(k) for k, v in r.items()]
        ).collect()
    }
    assert rows[1]["r_top_word_frac"] == 1.0
    assert rows[1]["r_dup_2gram_frac"] == 0.6667  # 3 grams, 1 distinct, round(4)
    assert rows[1]["r_adjacent_repeats"] == 3
    assert rows[2]["r_dup_2gram_frac"] == 0.0
    assert rows[2]["r_top_word_count"] == 1
    assert rows[3]["r_tokens"] == 0 and rows[3]["r_top_word_frac"] == 0.0
    assert rows[4]["r_tokens"] == 1 and rows[4]["r_dup_2gram_frac"] == 0.0
    assert rows[5]["r_adjacent_repeats"] == 0
    assert rows[5]["r_dup_2gram_frac"] > 0.5  # "a b"/"b a" repeat heavily


def test_contamination_check_counts_and_plan(spark):
    from faers_datalakehouse_spark.operators.contamination import (
        contamination_check,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),    # shares "the quick brown"…
            (2, "totally unrelated words here"),
            (3, "xx"),                           # shorter than n → 0 ngrams
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "The Quick Brown Fox")], ["doc_id", "text"]  # case-folded match
    )
    out = contamination_check(corpus, bench, n=3)
    rows = {row["doc_id"]: row for row in out.collect()}
    assert rows[1]["n_contaminated"] == 2   # "the quick brown", "quick brown fox"
    assert rows[1]["is_contaminated"]
    assert rows[2]["n_contaminated"] == 0 and not rows[2]["is_contaminated"]
    assert rows[3]["n_ngrams"] == 0 and rows[3]["contamination_frac"] == 0.0
    # benchmark side must broadcast — the corpus never shuffles for the probe
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_connected_components_chain_and_islands(spark):
    from faers_datalakehouse_spark.operators.clustering import (
        cluster_assignments,
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3, needs propagation) + island 10-11
        [(2, 1), (2, 3), (4, 3), (10, 11)],
        ["src", "dst"],
    )
    cc = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    out = cluster_assignments(edges).collect()
    sizes = {r["doc_id"]: r["cluster_size"] for r in out}
    assert sizes == {1: 4, 2: 4, 3: 4, 4: 4, 10: 2, 11: 2}
    canon = sorted(r["doc_id"] for r in out if r["is_canonical"])
    assert canon == [1, 10]


def test_connected_components_empty_edges(spark):
    from faers_datalakehouse_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([], "src: bigint, dst: bigint")
    assert connected_components(edges).count() == 0


def test_star_components_match_label_propagation_random(spark):
    """Property: large-star/small-star and min-label propagation agree on
    random graphs (mixed components, stars, chains, singleton edges)."""
    import random

    from faers_datalakehouse_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25 + trial * 10)
        ]
        # keep self-loops in: both variants must treat a self-loop-only
        # node as a singleton component (contract: identical output)
        df = spark.createDataFrame(edges, ["src", "dst"])
        want = {
            r["node"]: r["comp"] for r in connected_components(df).collect()
        }
        got = {
            r["node"]: r["comp"]
            for r in connected_components_star(df).collect()
        }
        assert got == want, f"trial {trial}: star != label propagation"


def test_star_components_converge_on_long_chain(spark):
    """A 64-node path has diameter 63: min-label propagation needs 63
    rounds (its max_iter=25 raises), large-star/small-star needs O(log n).
    This is exactly the chain-shaped-cluster scale risk at 100 TB."""
    import pytest as _pytest

    from faers_datalakehouse_spark.operators.clustering import (
        cluster_assignments,
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10)

    got = {
        r["node"]: r["comp"]
        for r in connected_components_star(chain, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(64)}

    out = cluster_assignments(chain, algorithm="star", max_iter=10).collect()
    assert all(r["cluster_size"] == 64 and r["cluster_id"] == 0 for r in out)
    assert sorted(r["doc_id"] for r in out if r["is_canonical"]) == [0]


def test_kmeans_round_half_away():
    from faers_datalakehouse_spark.operators.kmeans import _round_half_away

    assert _round_half_away(5, 2) == 3      # 2.5 → 3 (away from zero)
    assert _round_half_away(-5, 2) == -3    # -2.5 → -3 (not banker's -2)
    assert _round_half_away(7, 2) == 4
    assert _round_half_away(1, 3) == 0
    assert _round_half_away(2, 3) == 1
    assert _round_half_away(-2, 3) == -1
    assert _round_half_away(0, 5) == 0


def test_kmeans_lite_separates_blobs(spark):
    from faers_datalakehouse_spark.operators.kmeans import kmeans_lite

    # two well-separated 2-d blobs: 2 Lloyd rounds must split them exactly,
    # whichever rows the hash-sampling picks as seeds
    rows = [(i, [10.0 + (i % 3) * 0.01, 10.0]) for i in range(6)] + [
        (i, [-10.0 - (i % 3) * 0.01, -10.0]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = kmeans_lite(df, k=2, iters=2).collect()
    assert [r["vec_id"] for r in out] == list(range(12))
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        assert r["cluster_size"] == 6
        by_cluster.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    assert sorted(by_cluster.values(), key=min) == [
        set(range(6)),
        set(range(6, 12)),
    ]


def test_semantic_neardup_subset_of_exact_pairs(spark, sf_dir):
    from faers_datalakehouse_spark.operators.semdedup import (
        semantic_neardup_pairs,
    )
    from faers_datalakehouse_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sem = semantic_neardup_pairs(emb, k=8, iters=2, threshold=0.45).collect()
    exact = cosine_neardup_pairs(emb, threshold=0.45).collect()
    sem_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in sem}
    exact_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact}
    # cluster blocking can only DROP pairs, never invent or re-score them
    assert sem_pairs, "expected nonzero in-cluster pairs at threshold 0.45"
    assert set(sem_pairs) <= set(exact_pairs)
    for pair, cos in sem_pairs.items():
        assert cos == exact_pairs[pair]


def test_semantic_neardup_same_cluster_duplicates(spark):
    from faers_datalakehouse_spark.operators.semdedup import (
        semantic_neardup_pairs,
    )

    # identical vectors MUST cluster together and pair at cosine 1.0;
    # the far-away blob must not cross the cluster boundary
    rows = [(0, [5.0, 5.0]), (1, [5.0, 5.0]), (2, [-9.0, 4.0]), (3, [-9.0, 4.01])]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = semantic_neardup_pairs(df, k=2, iters=2, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert got == {(0, 1), (2, 3)}
    by_pair = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    assert by_pair[(0, 1)] == 1.0


def test_kmeans_lite_empty_cluster_keeps_centroid(spark):
    from faers_datalakehouse_spark.operators.kmeans import kmeans_lite

    # all-identical vectors: every point ties to the lowest cid, the other
    # cluster goes empty and must retain its centroid without crashing
    df = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(4)],
        "vec_id: bigint, embedding: array<float>",
    )
    out = kmeans_lite(df, k=2, iters=2).collect()
    assert len(out) == 4
    assert {r["cluster_id"] for r in out} == {0}
    assert all(r["cluster_size"] == 4 for r in out)


def test_kmeans_refuses_quantized_values_that_overflow_int64(spark):
    from faers_datalakehouse_spark.operators.kmeans import kmeans_lite

    # 1e7 quantizes to 1e10; its squared distance to -1e10 is 4e20, past
    # int64. Unguarded, it wrapped negative, every point took the far
    # centroid, and the blobs came back under swapped cluster ids (the
    # same rows at ±1e4 give ids 1 and 0)
    rows = [(i, [1.0e7, float(i)]) for i in range(3)] + [
        (i, [-1.0e7, float(i)]) for i in range(3, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    with pytest.raises(Exception, match="ArithmeticError"):
        kmeans_lite(df, k=2, iters=2).collect()


@pytest.mark.parametrize("op", ["kmeans_lite", "semantic_neardup_pairs"])
def test_kmeans_ops_leave_no_cached_dataset(spark, op):
    from faers_datalakehouse_spark.operators.kmeans import kmeans_lite
    from faers_datalakehouse_spark.operators.semdedup import (
        semantic_neardup_pairs,
    )

    run, n_rows = {
        "kmeans_lite": (lambda df: kmeans_lite(df, k=2, iters=2), 8),
        "semantic_neardup_pairs": (
            lambda df: semantic_neardup_pairs(df, k=2, iters=2, threshold=0.99),
            12,  # C(4, 2) identical pairs per cluster
        ),
    }[op]
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame(
        [(i, [float(i % 2), 1.0]) for i in range(8)],
        "vec_id: bigint, embedding: array<float>",
    )
    for _ in range(2):  # a long-lived session: no clearCache between calls
        assert len(run(df).collect()) == n_rows
        assert cache.isEmpty()


def test_cluster_assignments_rejects_unknown_algorithm(spark):
    from faers_datalakehouse_spark.operators.clustering import cluster_assignments

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="algorithm"):
        cluster_assignments(edges, algorithm="Star")


def test_gap_fill_daily_fills_missing_days_and_forward_fills(spark):
    import datetime as dt

    from faers_datalakehouse_spark.operators.timeseries import gap_fill_daily

    d = dt.datetime
    events = spark.createDataFrame(
        [
            ("a", d(2024, 1, 1, 10), 10.0),
            ("a", d(2024, 1, 1, 11), 5.0),
            # Jan 2-3 missing entirely
            ("a", d(2024, 1, 4, 9), 7.0),
            ("b", d(2024, 1, 2, 8), 1.0),
        ],
        ["event_type", "ts", "value"],
    )
    out = {
        (r["series"], str(r["day"])): (
            r["n_events"], r["value_c"], r["ffill_value_c"]
        )
        for r in gap_fill_daily(events).collect()
    }
    assert out[("a", "2024-01-01")] == (2, 1500, 1500)
    assert out[("a", "2024-01-02")] == (0, 0, 1500)  # gap: zero + carry
    assert out[("a", "2024-01-03")] == (0, 0, 1500)
    assert out[("a", "2024-01-04")] == (1, 700, 700)
    assert out[("b", "2024-01-02")] == (1, 100, 100)
    assert len([k for k in out if k[0] == "a"]) == 4  # full spine, no holes


def test_pagerank_ranks_authority_above_leaves(spark):
    from faers_datalakehouse_spark.operators.graph import pagerank_lite

    # star: 1,2,3 all point at 9; 9 points at 5
    edges = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (9, 5)], ["src", "dst"]
    )
    out = {r["node"]: r["rank_micro"] for r in pagerank_lite(edges, iters=6).collect()}
    # converged: 5 inherits 9's ENTIRE rank (outdeg 1) plus its own base,
    # so 5 > 9; 9 collects three teleport-level sources, beating the
    # leaves, which keep only the teleport base
    assert out[5] > out[9] > out[1]
    assert out[1] == out[2] == out[3]
    # deterministic integers
    again = {r["node"]: r["rank_micro"] for r in pagerank_lite(edges, iters=6).collect()}
    assert out == again


def test_range_join_malformed_intervals_match_nothing(spark):
    """start > end rows are filtered before the bin explode — they used
    to fan out into huge descending bin arrays."""
    from faers_datalakehouse_spark.operators.ranges import range_join

    points = spark.createDataFrame([(1, 100.0)], "k long, p double")
    ivals = spark.createDataFrame(
        [(1, 90.0, 110.0, "good"), (1, 1e9, 0.0, "swapped")],
        "k long, s double, e double, tag string",
    )
    out = range_join(points, ivals, on=["k"], point="p", start="s", end="e",
                     bin_width=10)
    assert [r["tag"] for r in out.collect()] == ["good"]


def test_salted_join_rejects_reserved_salt_column(spark):
    from faers_datalakehouse_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 0)], "k long, _salt int")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(big, small, on=["k"])


# -- sorted-neighborhood method ------------------------------------------


def test_snm_finds_near_sorted_duplicates(spark):
    from faers_datalakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    df = _docs(
        spark,
        [
            (1, "acme corporation annual report", "en"),
            (2, "acme corporatian annual report", "en"),  # 1 typo
            (3, "zebra migration patterns in kenya", "en"),
            (4, "completely unrelated text about pianos", "en"),
            (5, "acme corp annual report", "en"),  # near the acme pair
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "lang", window=3, max_distance=8
        ).collect()
    }
    # the three acme variants sort adjacently and are within 8 edits
    assert (1, 2) in pairs or (2, 1) in pairs
    assert any(5 in p for p in pairs)
    # the unrelated docs never pair with acme
    assert not any(3 in p or 4 in p for p in pairs)


def test_snm_linear_candidate_bound_and_block_isolation(spark):
    from faers_datalakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, "identical text for everyone", "en" if i % 2 else "de")
            for i in range(20)]
    df = _docs(spark, rows)
    w = 4
    got = sorted_neighborhood_pairs(df, "lang", window=w, max_distance=0)
    pairs = got.collect()
    # at most window-1 candidates per row
    assert len(pairs) <= len(rows) * (w - 1)
    # blocks never mix: both ids of a pair share the block's parity
    for r in pairs:
        assert r["id_a"] % 2 == r["id_b"] % 2


def test_snm_stable_under_repartition(spark):
    from faers_datalakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"document number {i // 3} shared prefix", "en")
            for i in range(30)]
    df = _docs(spark, rows)
    a = {(r["id_a"], r["id_b"], r["distance"])
         for r in sorted_neighborhood_pairs(df, "lang").collect()}
    b = {(r["id_a"], r["id_b"], r["distance"])
         for r in sorted_neighborhood_pairs(df.repartition(7), "lang").collect()}
    assert a == b and a


def test_snm_rejects_degenerate_window(spark):
    from faers_datalakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    df = _docs(spark, [(1, "x", "en")])
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "lang", window=1)


# -- all-pairs tf-idf similarity ------------------------------------------


def test_allpairs_near_dup_scores_high(spark):
    from faers_datalakehouse_spark.operators.ranking import (
        allpairs_similarity,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = _docs(
        spark,
        [
            (1, base, "en"),
            (2, base + " today", "en"),  # near-dup of 1
            (3, "entirely different content about quantum chromodynamics "
                "lattice simulations and gauge theory", "en"),
        ],
    )
    rows = allpairs_similarity(df, n=3, max_df_pct=100, min_dot=1).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["cos"] > 0.8
    # doc 3 shares no 3-shingle with the fox docs
    assert not any(3 in p for p in pairs)


def test_allpairs_df_cut_drops_boilerplate(spark):
    from faers_datalakehouse_spark.operators.ranking import (
        allpairs_similarity,
    )

    # every doc carries the same boilerplate header; bodies are disjoint
    rows = [
        (i, "standard corporate disclaimer header text " + body, "en")
        for i, body in enumerate(
            ["alpha beta gamma delta", "epsilon zeta eta theta",
             "iota kappa lam mu", "nu xi omicron pi rho"]
        )
    ]
    df = _docs(spark, rows)
    # df cut at 50%: boilerplate shingles (df=4 of 4 docs) are dropped,
    # so no pair survives
    assert (
        allpairs_similarity(df, n=3, max_df_pct=50, min_dot=1).count() == 0
    )
    # without the cut the boilerplate pairs everything with everything
    assert (
        allpairs_similarity(df, n=3, max_df_pct=100, min_dot=1).count() == 6
    )


def test_allpairs_stable_under_repartition(spark):
    from faers_datalakehouse_spark.operators.ranking import (
        allpairs_similarity,
    )

    rows = [(i, f"shared phrase block {i % 3} with common tail words here",
             "en") for i in range(12)]
    df = _docs(spark, rows)
    # 50% cut: each i%3 group's shingles sit at df=4 of 12 (33%) — kept
    a = {(r["id_a"], r["id_b"], r["dot"])
         for r in allpairs_similarity(df, max_df_pct=50, min_dot=1).collect()}
    b = {(r["id_a"], r["id_b"], r["dot"])
         for r in allpairs_similarity(
             df.repartition(5), max_df_pct=50, min_dot=1).collect()}
    assert a == b and a
