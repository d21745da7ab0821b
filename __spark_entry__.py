"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query at sf0.001;
``queries()``/``oracle_sql()`` pair every implemented operator from
SURVEY.md §2 (plus the LLM-data-pipeline extensions) with a DuckDB-runnable
ANSI-SQL twin. Keys without an oracle entry (probabilistic LSH paths,
Python-kernel SimHash) get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.dedup import (
    DEDUP_EXACT_SQL,
    minhash_estimate_error,
    minhash_estimate_error_oracle_sql,
    NGRAM_JACCARD_SQL_TEMPLATE,
    dedup_exact,
    minhash_lsh_oracle_sql,
    ngram_jaccard_pairs,
    shared_lsh_pairs,
    simhash_neardup_pairs,
    simhash_oracle_sql,
)
from faers_datalakehouse_spark.operators.clustering import (
    cluster_assignments,
    cluster_oracle_sql,
)
from faers_datalakehouse_spark.operators.classifier import quality_oracle_sql
from faers_datalakehouse_spark.operators.incremental import (
    incremental_dedup_oracle_sql,
    incremental_sessionize_query as incremental_sessionize_entry,
)
from faers_datalakehouse_spark.operators.substring import (
    dup_spans_oracle_sql,
    duplicated_window_spans,
)
from faers_datalakehouse_spark.operators.surprisal import (
    surprisal_oracle_sql,
    surprisal_scores,
)
from faers_datalakehouse_spark.operators.contamination import (
    contamination_check,
    contamination_oracle_sql,
)
from faers_datalakehouse_spark.operators.kmeans import (
    kmeans_lite,
    kmeans_oracle_sql,
)
from faers_datalakehouse_spark.operators.ranking import (
    bm25_oracle_sql,
    bm25_topk,
    inverted_index,
    inverted_index_oracle_sql,
)
from faers_datalakehouse_spark.operators.dsir import (
    dsir_oracle_sql,
    dsir_select,
    dsir_select_oracle_sql,
    dsir_weights,
)
from faers_datalakehouse_spark.operators.substring import (
    winnowing_fingerprints,
    winnowing_oracle_sql,
)
from faers_datalakehouse_spark.operators.surprisal import (
    bigram_surprisal_oracle_sql,
    bigram_surprisal_scores,
)
from faers_datalakehouse_spark.operators.activity import (
    decayed_activity_oracle_sql,
)
from faers_datalakehouse_spark.operators.bpe import (
    bpe_encode,
    bpe_encode_oracle_sql,
    bpe_merges_oracle_sql,
    shared_bpe_merges,
)
from faers_datalakehouse_spark.operators.novelty import (
    ngram_novelty,
    ngram_novelty_oracle_sql,
)
from faers_datalakehouse_spark.operators.vector_qc import (
    embedding_qc_oracle_sql,
)
from faers_datalakehouse_spark.operators.basket import (
    basket_pairs,
    basket_pairs_oracle_sql,
)
from faers_datalakehouse_spark.operators.diff import table_diff_oracle_sql
from faers_datalakehouse_spark.operators.setjoin import (
    prefix_filter_jaccard_pairs,
    prefix_filter_oracle_sql,
)
from faers_datalakehouse_spark.operators.spatial import (
    spatial_oracle_sql,
    spatial_radius_pairs,
)
from faers_datalakehouse_spark.operators.integrity import (
    REFERENTIAL_AUDIT_SQL,
    referential_audit,
)
from faers_datalakehouse_spark.operators.bitmap import (
    BITMAP_DISTINCT_SQL,
    bitmap_distinct,
)
from faers_datalakehouse_spark.functions.udtf_ops import (
    UDTF_CHUNKS_SQL,
    UDTF_DATEPARTS_SQL,
    udtf_chunks,
    udtf_dateparts_query as udtf_dateparts,
)
from faers_datalakehouse_spark.operators.cogroup import (
    ORDER_RECONCILIATION_SQL,
    order_reconciliation,
)
from faers_datalakehouse_spark.operators.sketches import (
    hll_set_algebra as _hll_set_algebra,
    hll_set_algebra_oracle_sql,
)
from faers_datalakehouse_spark.operators.linkage import (
    linkage_oracle_sql,
    linkage_scores,
)
from faers_datalakehouse_spark.operators.rolling_distinct import (
    rolling_distinct_oracle_sql,
    rolling_distinct_query,
    rolling_hll_oracle_sql,
    rolling_hll_query,
)
from faers_datalakehouse_spark.operators.target_encoding import (
    target_encode_oof_oracle_sql,
    target_encode_query,
)
from faers_datalakehouse_spark.operators.interval_join import (
    TRANSIT_AUDIT_OVERLAPS_SQL,
    transit_audit_overlaps,
)
from faers_datalakehouse_spark.operators.top_p import (
    TOP_P_SOURCES_SQL,
    WEIGHTED_QUANTILES_SQL,
    top_p_sources_query,
    weighted_quantiles_query,
)
from faers_datalakehouse_spark.operators.sampling import (
    priority_sample_oracle_sql,
    priority_sample_query,
)
from faers_datalakehouse_spark.operators.seqmatch import (
    SEQ_MATCH_SQL,
    WINDOW_FUNNEL_SQL,
    seq_match_query,
    window_funnel_query,
)
from faers_datalakehouse_spark.operators.bars import (
    OHLC_BARS_SQL,
    TWAP_DAILY_SQL,
    ohlc_bars_query,
    twap_daily_query,
)
from faers_datalakehouse_spark.operators.source_overlap import (
    distinctive_terms_oracle_sql,
    distinctive_terms_query,
    source_minhash_oracle_sql,
    source_minhash_query,
    source_overlap_oracle_sql,
    source_overlap_query,
)
from faers_datalakehouse_spark.operators.coreset import kcenter_oracle_sql
from faers_datalakehouse_spark.operators.drift import ks_drift_oracle_sql
from faers_datalakehouse_spark.operators.graph import (
    bfs_distances,
    bfs_oracle_sql,
    pagerank_lite,
    pagerank_oracle_sql,
    sssp_oracle_sql,
)
from faers_datalakehouse_spark.operators.sharding import (
    rendezvous_oracle_sql,
    rendezvous_shards,
)
from faers_datalakehouse_spark.operators.benford import (
    benford_oracle_sql,
    benford_query,
)
from faers_datalakehouse_spark.operators.gini import (
    GINI_SEGMENT_SQL,
    gini_segment_query,
)
from faers_datalakehouse_spark.operators.fusion import (
    rrf_hybrid_oracle_sql,
    rrf_hybrid_query,
)
from faers_datalakehouse_spark.operators.entropy import (
    SOURCE_ENTROPY_SQL,
    source_entropy_query,
)
from faers_datalakehouse_spark.operators.cdc import (
    cdc_dedup_query,
    cdc_oracle_sql,
)
from faers_datalakehouse_spark.operators.mixture import (
    TEMPERATURE_MIX_SQL,
    temperature_mix_query,
)
from faers_datalakehouse_spark.operators.kcore import (
    kcore_oracle_sql,
    kcore_peel,
)
from faers_datalakehouse_spark.operators.heavyhitters import (
    heavy_hitters_oracle_sql,
    heavy_hitters_query,
)
from faers_datalakehouse_spark.operators.normalize import (
    PERCENTILE_NORMALIZE_SQL,
    percentile_normalize_query,
)
from faers_datalakehouse_spark.operators.spearman import (
    SPEARMAN_SQL,
    spearman_query,
)
from faers_datalakehouse_spark.operators.kmv import (
    kmv_oracle_sql,
    kmv_query,
)
from faers_datalakehouse_spark.operators.feathash import (
    feature_hash_oracle_sql,
    feature_hash_query,
)
from faers_datalakehouse_spark.operators.holt import (
    holt_oracle_sql,
    holt_query,
)
from faers_datalakehouse_spark.operators.keywords import (
    doc_keywords_oracle_sql,
    doc_keywords_query,
)
from faers_datalakehouse_spark.operators.mmr import (
    mmr_diversify,
    mmr_oracle_sql,
)
from faers_datalakehouse_spark.operators.ams import (
    ams_f2_oracle_sql,
    ams_f2_query,
)
from faers_datalakehouse_spark.operators.entropy import (
    MUTUAL_INFORMATION_SQL,
    mutual_information_query,
)
from faers_datalakehouse_spark.operators.survival import (
    SURVIVAL_HAZARD_SQL,
    survival_hazard_query,
)
from faers_datalakehouse_spark.operators.abc import (
    ABC_CLASSES_SQL,
    abc_classes_query,
)
from faers_datalakehouse_spark.operators.temporal_stats import (
    BURSTINESS_SQL,
    INTERARRIVAL_SQL,
    burstiness_query,
    interarrival_query,
)
from faers_datalakehouse_spark.operators.allocation import (
    NEYMAN_ALLOCATION_SQL,
    neyman_allocation_query,
)
from faers_datalakehouse_spark.operators.subsample import (
    subsample_ci_oracle_sql,
    subsample_ci_query,
)
from faers_datalakehouse_spark.operators.rfm import (
    RFM_SEGMENTS_SQL,
    rfm_segments_query,
)
from faers_datalakehouse_spark.operators.theilsen import (
    HODGES_LEHMANN_SQL,
    THEIL_SEN_SQL,
    hodges_lehmann_query,
    theil_sen_query,
)
from faers_datalakehouse_spark.operators.tcloseness import (
    T_CLOSENESS_SQL,
    t_closeness_query,
)
from faers_datalakehouse_spark.operators.drawdown import (
    MAX_DRAWDOWN_SQL,
    max_drawdown_query,
)
from faers_datalakehouse_spark.operators.seasonal import (
    SEASONAL_DECOMPOSE_SQL,
    seasonal_decompose_query,
)
from faers_datalakehouse_spark.operators.shapes import (
    SHAPE_PROFILE_SQL,
    shape_profile_query,
)
from faers_datalakehouse_spark.operators.stattests import (
    MANN_WHITNEY_SQL,
    ODDS_RATIO_SQL,
    RUNS_TEST_SQL,
    WELCH_TTEST_SQL,
    mann_whitney_query,
    odds_ratio_query,
    runs_test_query,
    welch_ttest_query,
)
from faers_datalakehouse_spark.operators.ranktests import (
    KENDALL_TAU_SQL,
    KRUSKAL_WALLIS_SQL,
    kendall_tau_query,
    kruskal_wallis_query,
)
from faers_datalakehouse_spark.operators.assoc import (
    THEILS_U_SQL,
    theils_u_query,
)
from faers_datalakehouse_spark.operators.divergence import (
    SOURCE_XENTROPY_SQL,
    ZIPF_SLOPE_SQL,
    source_xentropy_query,
    zipf_slope_query,
)
from faers_datalakehouse_spark.operators.concurrency import (
    PEAK_CONCURRENCY_SQL,
    peak_concurrency_query,
)
from faers_datalakehouse_spark.operators.trendtest import (
    COCHRAN_ARMITAGE_SQL,
    cochran_armitage_query,
)
from faers_datalakehouse_spark.operators.tstests import (
    ADF_T_SQL,
    PERMUTATION_ENTROPY_SQL,
    adf_t_query,
    ljung_box_oracle_sql,
    ljung_box_query,
    permutation_entropy_query,
)
from faers_datalakehouse_spark.operators.grouptests import (
    ANOVA_F_SQL,
    BROWN_FORSYTHE_SQL,
    anova_f_query,
    brown_forsythe_query,
)
from faers_datalakehouse_spark.operators.pairedtests import (
    COX_STUART_SQL,
    MCNEMAR_SQL,
    WILCOXON_SIGNED_RANK_SQL,
    cox_stuart_query,
    mcnemar_switching_query,
    wilcoxon_signed_rank_query,
)
from faers_datalakehouse_spark.operators.ordtests import (
    CVM_DRIFT_SQL,
    JONCKHEERE_SQL,
    cvm_drift_query,
    jonckheere_trend_query,
)
from faers_datalakehouse_spark.operators.blocktests import (
    friedman_oracle_sql,
    friedman_test_query,
)
from faers_datalakehouse_spark.operators.binseg import (
    BINSEG_SQL,
    binseg_changepoint_query,
)
from faers_datalakehouse_spark.operators.concentration import (
    HHI_SQL,
    hhi_concentration_query,
)
from faers_datalakehouse_spark.functions.readability import (
    READABILITY_FK_SQL,
    readability_fk_query,
)
from faers_datalakehouse_spark.operators.curation import (
    PII_DENSITY_SQL,
    WATER_FILLING_SQL,
    curation_pipeline_oracle_sql,
    curation_pipeline_query,
    dedup_keep_best_query,
    keep_best_oracle_sql,
    pii_density_query,
    water_filling_query,
)
from faers_datalakehouse_spark.operators.bpe import (
    bpe_fertility,
    bpe_fertility_oracle_sql,
)
from faers_datalakehouse_spark.operators.extremes import (
    GUMBEL_FIT_SQL,
    RECORD_DAYS_SQL,
    gumbel_fit_query,
    record_days_query,
)
from faers_datalakehouse_spark.operators.divergence import (
    COND_ENTROPY_RATE_SQL,
    cond_entropy_rate_query,
)
from faers_datalakehouse_spark.operators.stattests import (
    PHI_COEFFICIENT_SQL,
    phi_coefficient_query,
)
from faers_datalakehouse_spark.operators.linkpred import (
    clustering_coefficient,
    lcc_oracle_sql,
    ra_oracle_sql,
    resource_allocation_pairs,
)
from faers_datalakehouse_spark.operators.timeseries import (
    gap_fill_daily,
    gap_fill_oracle_sql,
    linear_interpolate_daily,
    linear_interpolate_oracle_sql,
)
from faers_datalakehouse_spark.sources.tables import read_events, read_table
from faers_datalakehouse_spark.sources.zorder import z_value, z_value_sql
from faers_datalakehouse_spark.operators.semdedup import (
    semantic_neardup_oracle_sql,
    semantic_neardup_pairs,
)
from faers_datalakehouse_spark.operators.similarity import (
    ANN_RECALL_SQL_TEMPLATE,
    ANN_TOPK_SQL_TEMPLATE,
    COSINE_NEARDUP_SQL_TEMPLATE,
    IVF_TOPK_SQL_TEMPLATE,
    QUANT,
    ann_lsh_oracle_sql,
    ann_recall,
    cosine_neardup_pairs,
    ivf_topk_neighbors,
    lsh_bucketed_neardup,
    lsh_bucketed_neighbors,
    lsh_neardup_oracle_sql,
    topk_neighbors_bruteforce,
)
from faers_datalakehouse_spark.operators.entity import (
    levenshtein_pairs,
    levenshtein_pairs_oracle_sql,
)
from faers_datalakehouse_spark.operators.privacy import (
    k_anonymity_audit,
    k_anonymity_audit_oracle_sql,
    k_suppress,
    l_diversity_audit,
    l_diversity_oracle_sql,
)
from faers_datalakehouse_spark.operators.quantile_sketch import (
    histogram_quantiles,
    histogram_quantiles_oracle_sql,
)
from faers_datalakehouse_spark.plans import analytics as A
from faers_datalakehouse_spark.plans import sql_features as SQ
from faers_datalakehouse_spark.plans import showcase as S
from faers_datalakehouse_spark.plans import training_prep as T
from faers_datalakehouse_spark.plans.date_dim import build_date_dim, date_dim_oracle
from faers_datalakehouse_spark.plans.star import (
    FACT_SALES_ORACLE_SQL,
    build_fact_sales,
    decode_ladders_demo,
)

SF0001 = "/root/testdata/sf0.001"

ANN_QUERY_MOD = 50  # vec_id % 50 == 0 → query subset
ANN_K = 5
# The synthetic embeddings are near-orthogonal random vectors (max pairwise
# cosine ≈ 0.51 at sf0.01), so a classic 0.8+ dedup threshold matches nothing;
# 0.45 keeps the top ~15 pairs so the near-dup paths verify nonzero output.
NEARDUP_COS_THRESHOLD = 0.45
JACCARD_K = 8
JACCARD_THRESHOLD = 0.5
JACCARD_BAND = 100
BM25_QUERY_TERMS = ("hash", "join", "vector", "stream")
# the synthetic corpus has a 31-word vocabulary with df >= 25 at sf0.01;
# 450 prunes only the most ubiquitous words while keeping output nonzero
INVIDX_MAX_DF = 450


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: star-schema fact assembly + revenue rollup at sf0.001."""
    fact = build_fact_sales(spark, SF0001)
    return (
        fact.groupBy("customer_region", "customer_nation", "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum("revenue"), 2).alias("total_revenue"),
            F.countDistinct("order_key").alias("n_orders"),
        )
        .orderBy(F.desc("total_revenue"))
    )


def _ann_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return topk_neighbors_bruteforce(
        emb, emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0), k=ANN_K
    )


def _mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return mmr_diversify(
        emb,
        emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0),
        pool_n=16,
        k_sel=5,
    )


def _ann_ivf(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk_neighbors(
        emb,
        emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0),
        k=ANN_K,
        n_cells=16,
        nprobe=nprobe,
    )


def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    merges = shared_bpe_merges(spark, sf_dir, n_merges=10)
    # driver contract: no array columns (the driver's pandas row
    # canonicalizer can't hash list cells — round-5 failure). The token
    # regex is [a-z0-9]+, so the space join is lossless.
    return bpe_encode(docs, merges).withColumn(
        "tokens", F.array_join("tokens", " ")
    )


def _bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    merges = shared_bpe_merges(spark, sf_dir, n_merges=10)
    return bpe_fertility(docs, merges)


def _embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.vector_qc import embedding_qc

    return embedding_qc(
        read_table(spark, sf_dir, "embeddings")
    )


def _decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.activity import (
        decayed_activity,
    )

    return decayed_activity(read_events(spark, sf_dir))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge table itself, as a frame — gives the trainer
    a direct hash oracle (round-unrolled DuckDB CTE twin), which in turn
    makes bpe_encode's oracle an expansion check rather than rows-only."""
    merges = shared_bpe_merges(spark, sf_dir, n_merges=10)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "step int, a string, b string",
    ).orderBy("step")


def _zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    x = (F.col("o_orderkey") % 1024).cast("long")
    y = (F.col("o_custkey") % 1024).cast("long")
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        x.alias("zx"),
        y.alias("zy"),
        z_value(x, y, bits=10).alias("z"),
    ).orderBy("order_key")


ZORDER_CURVE_SQL = f"""
SELECT o_orderkey AS order_key,
       CAST(o_orderkey % 1024 AS BIGINT) AS zx,
       CAST(o_custkey % 1024 AS BIGINT) AS zy,
       {z_value_sql('(o_orderkey % 1024)', '(o_custkey % 1024)', bits=10)} AS z
FROM orders
ORDER BY order_key
"""


def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_recall(
        emb,
        emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0),
        k=ANN_K,
        n_cells=16,
        nprobe=1,
    )


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_neighbors(
        emb, emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0), k=ANN_K
    )


def _docs(fn):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(read_table(spark, sf_dir, "documents"))

    return runner


def _incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.incremental import (
        incremental_dedup_decisions,
    )

    docs = read_table(spark, sf_dir, "documents")
    return incremental_dedup_decisions(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        threshold=JACCARD_THRESHOLD,
    )


PAGERANK_EDGES_SQL = (
    "SELECT l_suppkey AS src, o_custkey AS dst "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)


def _pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    return pagerank_lite(edges, iters=2)


BASKET_SQL = "SELECT l_orderkey AS basket_id, l_partkey AS item FROM lineitem"


def _basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket_id"),
        F.col("l_partkey").alias("item"),
    )
    return basket_pairs(li, top_n=25)


BFS_SOURCES = [1, 2, 3]

# k-core over the bipartite supplier-customer graph (customer ids offset
# to avoid colliding with supplier ids, the SSSP convention). k=35 peels
# ~half the customer shell at sf0.01 (725 of 1600 nodes survive) —
# non-trivial but non-empty at the driver's gate scale.
KCORE_EDGES_SQL = (
    "SELECT l_suppkey AS src, o_custkey + 1000000 AS dst "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)
KCORE_K = 35
KCORE_ROUNDS = 4


def _kcore_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + 1_000_000).alias("dst"),
    )
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same mixed graph as triangle_counts (S.TRIANGLE_EDGES_SQL)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    return clustering_coefficient(edges)


# supplier pairs linked through shared parts — the bipartite RA shape;
# deg(part) = distinct suppliers shipping it, naturally bounded, with
# the hub cap as the hard guarantee.
RA_BIPARTITE_SQL = (
    "SELECT l_suppkey AS a, l_partkey AS z FROM lineitem"
)
RA_MAX_HUB_DEG = 100
RA_MIN_SCORE_MICRO = 200_000


def _ra_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return resource_allocation_pairs(
        li.select(F.col("l_suppkey").alias("a"), F.col("l_partkey").alias("z")),
        "a",
        "z",
        max_hub_deg=RA_MAX_HUB_DEG,
        min_score_micro=RA_MIN_SCORE_MICRO,
    )

# Two simulated snapshots of orders: A drops key%7==0, B drops key%5==0
# and rewrites o_orderpriority on key%3==0 — populates all four diff
# statuses (added / removed / changed / unchanged) deterministically.
DIFF_LEFT_SQL = "SELECT * FROM orders WHERE o_orderkey % 7 != 0"
DIFF_RIGHT_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 3 = 0 THEN '9-TEST' ELSE o_orderpriority END "
    "AS o_orderpriority FROM orders WHERE o_orderkey % 5 != 0"
)
DIFF_COMPARE = ["o_custkey", "o_orderstatus", "o_orderpriority"]


def _table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.diff import table_diff_summary

    orders = read_table(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderkey") % 7 != 0)
    right = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("9-TEST"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    return table_diff_summary(left, right, ["o_orderkey"], DIFF_COMPARE)


def _bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    return bfs_distances(edges, BFS_SOURCES, max_hops=3)


def _allpairs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.ranking import (
        allpairs_similarity,
    )

    docs = read_table(spark, sf_dir, "documents")
    return allpairs_similarity(docs, n=3, max_df_pct=20, min_dot=300)


def _snm_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, "lang", window=4, prefix_len=32, max_distance=10
    )


SSSP_SOURCES = [1, 2]
SSSP_ROUNDS = 3
# supplier -> customer lanes weighted by |ship lag| days (+1 so weights are
# strictly positive); reverse edges close the bipartite cycle so multi-hop
# relaxation is meaningful. Customer node ids are offset by 1_000_000 to
# keep the two key spaces disjoint.
SSSP_EDGES_INNER_SQL = """
SELECT l.l_suppkey AS s, o.o_custkey + 1000000 AS c,
       abs(date_diff('day', o.o_orderdate, l.l_shipdate)) + 1 AS w
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""
SSSP_EDGES_SQL = (
    f"SELECT s AS src, c AS dst, w FROM ({SSSP_EDGES_INNER_SQL}) "
    f"UNION ALL SELECT c AS src, s AS dst, w FROM ({SSSP_EDGES_INNER_SQL})"
)


def _sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.graph import sssp_weighted

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    pairs = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("s"),
        (F.col("o_custkey") + 1_000_000).alias("c"),
        (F.abs(F.datediff("l_shipdate", "o_orderdate")) + 1).alias("w"),
    )
    # both lane directions in ONE pass (explode, r12): the mirror-union
    # form executed the un-materialized lineitem x orders join once per
    # branch — two full fact joins for one logical edge list
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("src"), F.col("c").alias("dst"), F.col("w")
                ),
                F.struct(
                    F.col("c").alias("src"), F.col("s").alias("dst"), F.col("w")
                ),
            )
        ).alias("ed")
    ).select("ed.src", "ed.dst", "ed.w")
    return sssp_weighted(edges, SSSP_SOURCES, rounds=SSSP_ROUNDS)


def _kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.coreset import kcenter_coreset

    emb = read_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=6)


def _ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.drift import ks_drift

    docs = read_table(spark, sf_dir, "documents")
    return ks_drift(docs, "source", "n_chars")


def _fingerprint_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.substring import (
        fingerprint_containment,
    )

    docs = read_table(spark, sf_dir, "documents")
    return fingerprint_containment(docs)


def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.collocations import (
        pmi_collocations,
    )

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs)


def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faers_datalakehouse_spark.operators.classifier import (
        hashed_weights,
        quality_scores,
    )

    docs = read_table(spark, sf_dir, "documents")
    return quality_scores(docs, hashed_weights(spark, 1024), n_buckets=1024)


KANON_QUASI = ("c_mktsegment", "c_nationkey")
KANON_K = 12


def _levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return levenshtein_pairs(part, "p_name", max_dist=3, band_width=4).orderBy(
        "name1", "name2"
    )


def _histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", ["l_returnflag"], probs_milli=[250, 500, 950]
    )


def _k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return k_anonymity_audit(cust, list(KANON_QUASI), k=KANON_K).orderBy(
        *KANON_QUASI
    )


def _k_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return k_suppress(cust, list(KANON_QUASI), k=KANON_K).orderBy("c_custkey")


LDIV_QUASI = ("c_nationkey", "c_mktsegment")
LDIV_SENSITIVE = "o_orderpriority"
LDIV_L = 5


def _l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        *LDIV_QUASI, LDIV_SENSITIVE
    )
    return l_diversity_audit(j, list(LDIV_QUASI), LDIV_SENSITIVE, l=LDIV_L)


K_SUPPRESS_SQL = f"""
WITH a AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         count(*) OVER (PARTITION BY c_mktsegment, c_nationkey) AS _n
  FROM customer
)
SELECT c_custkey, c_name,
       CASE WHEN _n < {KANON_K} THEN NULL ELSE c_nationkey END AS c_nationkey,
       c_acctbal,
       CASE WHEN _n < {KANON_K} THEN NULL ELSE c_mktsegment END AS c_mktsegment
FROM a ORDER BY c_custkey
"""


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Full query map in build order. The driver verifies the FIRST 50
    # entries of ``queries()``; that window is NOT this dict's order — it
    # is the explicit ``_WINDOW`` list below, DERIVED from the
    # CORRECTNESS_r*.json artifacts by ``tools/gen_window.py`` (rotation
    # policy: never-driver-checked entries first, then stalest last-check
    # round, ties by build position). tests/test_entry_contract.py asserts
    # the checked-in window matches the derivation, so the window can
    # never silently drift from the policy again (it did in r7: the
    # hand-written narrative here claimed entries were in-window that sat
    # at positions 63-88). ``tools/oracle_sweep.py`` still hash-checks the
    # FULL map locally each round, so rotation never reduces coverage.
    return {
        # -- never driver-checked (built this round) --
        "versioned_mor_delete": S.versioned_mor_delete_query,
        "versioned_rename_read": S.versioned_rename_read_query,
        "ab_test": A.ab_test,
        "basket_pairs": _basket_pairs,
        "bfs_distances": _bfs_distances,
        "markov_transitions": A.markov_transitions,
        "top_event_paths": A.top_event_paths,
        "table_diff": _table_diff,
        "mad_outliers": A.mad_outliers,
        "prefix_filter_pairs": _docs(
            partial(prefix_filter_jaccard_pairs, threshold_milli=900)
        ),
        "quantile_binning": A.quantile_binning,
        "crosstab_chi2": A.crosstab_chi2,
        "lag_autocorr": A.lag_autocorrelation,
        "spatial_radius_join": spatial_radius_pairs,
        "referential_audit": referential_audit,
        "bitmap_distinct": bitmap_distinct,
        "window_suite": A.window_suite,
        "period_over_period": A.period_over_period,
        "rolling_range_frame": A.rolling_range_frame,
        "key_skew_profile": A.key_skew_profile,
        "pyds_pushdown_read": S.pyds_pushdown_read_query,
        "pyds_write_read": S.pyds_write_read_query,
        "pyds_stream_tail": S.pyds_stream_tail_query,
        "streaming_stateful_totals": S.streaming_stateful_totals_query,
        "udtf_chunks": udtf_chunks,
        "cogroup_reconcile": order_reconciliation,
        "linkage_scores": linkage_scores,
        "rolling_distinct": rolling_distinct_query,
        "group_ols_trend": A.group_ols_trend,
        "target_encode": target_encode_query,
        "interval_overlap": transit_audit_overlaps,
        "priority_sample": priority_sample_query,
        "top_p_sources": top_p_sources_query,
        "streaming_join": S.streaming_join_query,
        "source_overlap": source_overlap_query,
        "asof_nearest": S.asof_nearest_query,
        "versioned_evolve": S.versioned_evolve_query,
        "source_minhash": source_minhash_query,
        "sql_scripting": SQ.sql_scripting_query,
        "sql_variables": SQ.sql_variables_query,
        "observed_quality": SQ.observed_quality_entry,
        "pandas_api": SQ.pandas_api_query,
        "udtf_dateparts": udtf_dateparts,
        "seq_match": seq_match_query,
        "streaming_dedup": S.streaming_dedup_query,
        "streaming_enrich": S.streaming_enrich_query,
        "streaming_scd2": S.streaming_scd2_query,
        "ohlc_bars": ohlc_bars_query,
        "twap_daily": twap_daily_query,
        "window_funnel": window_funnel_query,
        "distinctive_terms": distinctive_terms_query,
        "rolling_hll": rolling_hll_query,
        "scd2_event_enrich": S.scd2_event_enrich_query,
        "weighted_quantiles": weighted_quantiles_query,
        "cdc_apply_seq": S.cdc_apply_seq_query,
        "incremental_sessionize": incremental_sessionize_entry,
        "variant_extract": A.variant_extract,
        "comoment_matrix": A.comoment_matrix,
        "categorical_encode": A.categorical_encode,
        "anomaly_days": A.anomaly_days,
        "pareto_front": A.pareto_front,
        "ewma_daily": A.ewma_daily,
        "levenshtein_pairs": _levenshtein_pairs,
        "histogram_quantiles": _histogram_quantiles,
        "k_anonymity_audit": _k_anonymity_audit,
        "k_suppress": _k_suppress,
        "interleave_sources": T.interleave_sources_query,
        "bucketed_join": S.bucketed_join_query,
        "streaming_attribution": S.streaming_attribution_query,
        "versioned_bloom_read": S.versioned_bloom_read_query,
        "versioned_partition_ops": S.versioned_partition_query,
        "streaming_versioned_ingest": S.streaming_versioned_ingest_query,
        "versioned_restore": S.versioned_restore_query,
        "versioned_zorder_read": S.versioned_zorder_read_query,
        "pq_encode": S.pq_encode_query,
        "pq_topk": S.pq_topk_query,
        "pq_recall": S.pq_recall_query,
        # -- never driver-checked (round 6) --
        "snm_neardup": _snm_neardup,
        "allpairs_tfidf": _allpairs_tfidf,
        "expectations_audit": S.expectations_audit_query,
        "quarantine_rows": S.quarantine_rows_query,
        "systematic_sample": S.systematic_sample_query,
        "triangle_counts": S.triangle_counts_query,
        # -- never driver-checked (round 6) --
        "streaming_sessionize": S.streaming_sessionize_query,
        "versioned_merge": S.versioned_merge_query,
        "grouping_sets_volume": A.grouping_sets_volume,
        # -- round-5 driver-red, fixed this round (array columns
        #    flattened to lossless joined strings) --
        "inverted_index": _docs(
            lambda df: inverted_index(df, max_df=INVIDX_MAX_DF, flat=True)
        ),
        "bpe_encode": _bpe_encode,
        # -- code changed this round: must re-verify under the driver --
        "winnowing_fingerprints": _docs(
            lambda df: winnowing_fingerprints(df, k=5, w=4)
        ),
        "bloom_prefilter": S.bloom_prefilter_query,
        # -- the 40 entries last driver-checked in r4 (2-round rule) --
        "customer_retention_setops": A.customer_retention_setops,
        "kmeans_clusters": lambda spark, sf_dir: kmeans_lite(
            read_table(spark, sf_dir, "embeddings"), k=8, iters=2
        ),
        "semantic_neardup": lambda spark, sf_dir: semantic_neardup_pairs(
            read_table(spark, sf_dir, "embeddings"),
            k=8,
            iters=2,
            threshold=NEARDUP_COS_THRESHOLD,
        ),
        "unpivot_measures": A.unpivot_measures,
        "quantiles_by_group": A.quantiles_by_group,
        "salted_join": S.salted_join_query,
        "multimodal_decode": S.multimodal_decode_query,
        "quality_classifier": _quality_classifier,
        "asof_join": S.asof_join_query,
        "pack_sequences": partial(
            T.pack_sequences_query, budget=512, n_shards=4
        ),
        "text_quality": S.text_quality_query,
        "incremental_dedup": _incremental_dedup,
        "stratified_cap": partial(S.stratified_cap_query, cap=30),
        # -- rotation tail (positions 51+). First: the 15 r4-green
        #    entries displaced by this round's never-checked operators
        #    (each keeps an in-window family rep): topk_parts /
        #    topk_by_group / rollup_volume / global_summary ≈
        #    grouping_sets_volume + quantiles_by_group;
        #    latest_day_activity ≈ gap-fill/time family reps in window;
        #    ann_ivf_topk_nprobe2 / ann_lsh_topk ≈ pq_topk + pq_recall;
        #    numeric_standardize ≈ text_quality; distinct_profile ≈
        #    k_anonymity_audit (groupBy census); ngram_jaccard ≈
        #    simhash_neardup + snm_neardup; sql_api_trend ≈
        #    json_extract_agg; fingerprint_dedup ≈ winnowing;
        #    surprisal_scores ≈ quality_classifier; pct_of_total ≈
        #    histogram_quantiles (window cumsum); neardup_clusters_star
        #    ≈ triangle_counts (graph). Then the earlier rotations
        #    (bpe_pair_counts, mixture_weights, chunk_documents, parity
        #    flagships) and the r5-green long tail:
        "vocab_stats": partial(T.vocab_stats_query, top_n=100),
        "dup_spans": _docs(partial(duplicated_window_spans, k=8)),
        "simhash_neardup": _docs(simhash_neardup_pairs),
        "json_extract_agg": A.json_extract_agg,
        "segment_status_pivot": A.segment_status_pivot,
        "lang_id": S.lang_id_query,
        "shard_manifest": partial(T.shard_manifest_query, n_shards=8),
        "contamination_check": _docs(
            lambda df: contamination_check(
                df.filter(F.col("doc_id") % 97 != 0),
                df.filter(F.col("doc_id") % 97 == 0),
                n=3,
            )
        ),
        "funnel_steps": A.funnel_steps,
        "topk_parts": partial(A.topk_parts, k=20),
        "latest_day_activity": A.latest_day_activity,
        "ann_ivf_topk_nprobe2": partial(_ann_ivf, nprobe=2),
        "ann_lsh_topk": _ann_lsh,
        "rollup_volume": A.rollup_volume,
        "topk_by_group": partial(A.topk_by_group, k=3),
        "global_summary": A.global_summary,
        "numeric_standardize": S.numeric_standardize_demo,
        "distinct_profile": A.distinct_profile,
        "ngram_jaccard": _docs(
            lambda df: ngram_jaccard_pairs(
                df,
                k=JACCARD_K,
                threshold=JACCARD_THRESHOLD,
                length_band=JACCARD_BAND,
            )
        ),
        "sql_api_trend": A.sql_api_trend,
        "fingerprint_dedup": S.fingerprint_query,
        "surprisal_scores": _docs(surprisal_scores),
        "pct_of_total": A.pct_of_total,
        "neardup_clusters_star": lambda spark, sf_dir: cluster_assignments(
            shared_lsh_pairs(spark, sf_dir, JACCARD_THRESHOLD),
            src="id_a",
            dst="id_b",
            algorithm="star",
        ),
        "chunk_documents": partial(
            S.chunk_documents_query, chunk_size=32, overlap=8
        ),
        "mixture_weights": S.mixture_weights_query,
        "bpe_pair_counts": partial(T.bpe_pair_counts_query, top_n=50),
        "fact_sales": build_fact_sales,
        "pricing_summary": A.pricing_summary,
        "scd2_merge": S.scd2_scenario,
        # -- remaining tail: every entry below is
        #    r5-driver-green (CORRECTNESS_r05.json) and keeps a
        #    r5-driver-green (CORRECTNESS_r05.json) and keeps a
        #    same-family representative in the window:
        #    versioned_read/delete/skip_read/changes≈versioned_merge,
        #    incremental_matview≈versioned family + matview tests,
        #    hll/cms sketches≈distinct_profile (approx-distinct family),
        #    bm25_topk≈inverted_index, dsir_weights/select≈
        #    quality_classifier, bigram_surprisal≈surprisal_scores,
        #    gap_fill_daily≈latest_day_activity (time family),
        #    pagerank≈neardup_clusters_star (iterative graph family),
        #    ann_recall/ann_topk/ann_ivf_topk≈ann_ivf_topk_nprobe2 +
        #    ann_lsh_topk, zorder_curve≈(bit-exact transforms, tests),
        #    attribution/cohort_retention/value_histogram≈funnel_steps +
        #    pct_of_total window family, cosine_neardup/lsh_neardup≈
        #    semantic_neardup, cube_volume≈rollup_volume,
        #    moving_average/temporal_trend≈sql_api_trend,
        #    repetition_filter/token_count/redact_pii≈text_quality +
        #    lang_id, split_assign≈stratified_cap, date_standardize≈
        #    numeric_standardize, decode_ladders≈fact_sales,
        #    regional_volume/profile_columns/shipping_priority≈
        #    global_summary + topk_parts, neardup_clusters≈
        #    neardup_clusters_star (same oracle), sessionize/
        #    sessionize_skew≈streaming_sessionize (same oracle!),
        #    range_join≈asof_join, date_dim≈fact_sales,
        #    dedup_exact/minhash_lsh≈ngram_jaccard + simhash_neardup +
        #    incremental_dedup, corpus_curation≈text_quality +
        #    mixture_weights. All r5-green; tools/oracle_sweep.py
        #    hash-checks them locally each round. --
        # snapshot-versioned table time travel
        "versioned_read": S.versioned_read_query,
        # copy-on-write row-level DELETE: pre/post snapshots both checked
        "versioned_delete": S.versioned_delete_query,
        # manifest min/max data skipping: pruned read loses no rows
        "versioned_skip_read": S.versioned_skip_read_query,
        # change data feed (Delta CDF analog): row diff between snapshots,
        # computed from the manifests' file-list symmetric difference only
        "versioned_changes": S.versioned_changes_query,
        # incrementally-maintained materialized aggregate: 3 batch
        # refreshes rewriting only affected hash buckets must equal the
        # one-shot GROUP BY
        "incremental_matview": S.incremental_matview_query,
        # deterministic sketches: the register STATE is oracle-checked
        # bit-for-bit, covering the approximate-distinct / approximate-
        # frequency paths themselves
        "hll_registers": S.hll_registers_query,
        "hll_by_group": S.hll_by_group_query,
        "hll_set_algebra": _hll_set_algebra,
        "cms_counts": S.cms_counts_query,
        "bm25_topk": _docs(
            lambda df: bm25_topk(df, BM25_QUERY_TERMS, k=15)
        ),
        "dsir_weights": lambda spark, sf_dir: dsir_weights(
            read_table(spark, sf_dir, "documents"),
            read_table(spark, sf_dir, "documents").filter(
                F.col("lang") == "en"
            ),
            n_buckets=256,
        ),
        # DSIR selection: deterministic top-n most-target-like documents
        "dsir_select": lambda spark, sf_dir: dsir_select(
            read_table(spark, sf_dir, "documents"),
            read_table(spark, sf_dir, "documents").filter(
                F.col("lang") == "en"
            ),
            n=100,
            n_buckets=256,
        ),
        # conditional-probability upgrade of unigram surprisal
        "bigram_surprisal": _docs(bigram_surprisal_scores),
        # time-series regularization: date-spine gap fill + forward fill
        "gap_fill_daily": lambda spark, sf_dir: gap_fill_daily(
            read_events(spark, sf_dir)
        ),
        # integer-exact damped power iteration over the supplier->customer
        # shipment graph (2 iterations, micro-rank units)
        "pagerank": _pagerank,
        # ANN quality harness: recall@k of the IVF path vs exact top-k —
        # the recall numbers themselves are oracle-reproducible
        "ann_recall": _ann_recall,
        # Morton-curve (ZORDER) values — the clustering expression behind
        # sources.zorder.write_zordered, bit-exact cross-engine
        "zorder_curve": _zorder_curve,
        # first/last-touch attribution (stacked frame windows + full join)
        "attribution": A.attribution,
        # weekly cohort retention matrix (epoch-week integers)
        "cohort_retention": A.cohort_retention,
        # fixed-width integer-cents histogram (1-row bounds broadcast)
        "value_histogram": partial(A.value_histogram, n_bins=20),
        # -- rotated in (last driver check r2/r3) --
        "ann_topk": _ann_queries,
        "ann_ivf_topk": _ann_ivf,
        "cosine_neardup": lambda spark, sf_dir: cosine_neardup_pairs(
            read_table(spark, sf_dir, "embeddings"),
            threshold=NEARDUP_COS_THRESHOLD,
        ),
        "cube_volume": A.cube_volume,
        "moving_average": partial(A.moving_average, days=7),
        "temporal_trend": A.temporal_trend,
        # Gopher-style within-doc repetition signals (boilerplate/spam filter)
        "repetition_filter": S.repetition_filter_query,
        "token_count": S.token_count_query,
        "redact_pii": S.redact_pii_query,
        "split_assign": S.split_assign_query,
        "date_standardize": S.date_standardize_demo,
        "decode_ladders": decode_ladders_demo,
        "regional_volume": A.regional_volume,
        "profile_columns": A.profile_columns,
        "shipping_priority": partial(A.shipping_priority, k=10),
        # Transitive dedup clustering: MinHash candidate pairs → connected
        # components (min-label propagation) → canonical doc per cluster.
        "neardup_clusters": lambda spark, sf_dir: cluster_assignments(
            shared_lsh_pairs(spark, sf_dir, JACCARD_THRESHOLD),
            src="id_a",
            dst="id_b",
        ),
        # DEFAULT near-dup path: LSH bucket blocking + exact in-bucket cosine
        # (linear; the quadratic verify kernel cosine_neardup is above).
        # 8 planes (not the operator's 10-plane default): the synthetic
        # corpus's strongest pairs sit near cosine 0.45, where 10-bit
        # signatures collide too rarely to exercise nonzero output at sf0.01.
        "lsh_neardup": lambda spark, sf_dir: lsh_bucketed_neardup(
            read_table(spark, sf_dir, "embeddings"),
            threshold=NEARDUP_COS_THRESHOLD,
            n_planes=8,
        ),
        # events.ts-drift canaries (the r3 regression class) stay pinned in
        # the window alongside the other time-windowed ops above.
        "sessionize": partial(A.sessionize, gap_minutes=30),
        # new this round: skew-hardened sessionize — (user, time-bucket)
        # windows + a stitch pass; byte-identical output, shared oracle.
        "sessionize_skew": partial(A.sessionize_skew, gap_minutes=30),
        "range_join": S.range_join_query,
        "date_dim": lambda spark, sf_dir: build_date_dim(spark),
        # -- LLM-data-pipeline extensions --
        "dedup_exact": _docs(dedup_exact),
        # portable_hash: md5-int64 shingle/band hashes → DuckDB reproduces the
        # exact signatures, buckets, and candidate pairs (hash-checked oracle).
        # session-shared candidate frame (also feeds neardup_clusters,
        # neardup_clusters_star, dedup_keep_best — computed once)
        "minhash_lsh": lambda spark, sf_dir: shared_lsh_pairs(
            spark, sf_dir, JACCARD_THRESHOLD
        ),
        # End-to-end curation composition: dedup → lang+quality → filter →
        # per-language corpus stats (the real training-data pipeline shape).
        "corpus_curation": partial(
            S.corpus_curation_query, min_score=0.5, min_tokens=10
        ),
        # -- round 8 --
        # Spark 4 recursive CTE surface: BFS over the aggregated (bounded)
        # nation trade DAG, identical SQL on both engines
        "recursive_cte_reach": SQ.recursive_cte_reach_query,
        # Spark 4 SQL pipe syntax (|> WHERE/EXTEND/AGGREGATE/ORDER BY)
        "pipe_syntax_trend": SQ.pipe_syntax_trend_query,
        # bigram collocations by PMI-monotone lift (counts-only shuffles)
        "pmi_collocations": _pmi_collocations,
        # exact-proportion stratified split (keyed windows, no global sort)
        "proportional_split": T.proportional_split_query,
        # tokenizer-vocab OOV audit (TakeOrdered vocab broadcast onto stream)
        "vocab_coverage": T.vocab_coverage_query,
        # CUSUM changepoint via closed-form running sum/min (no recursion)
        "cusum_changepoint": A.cusum_changepoint,
        # asymmetric near-containment over winnowing fingerprint sets
        # (df-capped equi-join on fingerprint hash — no all-pairs path)
        "fingerprint_containment": _fingerprint_containment,
        # robust per-group stats: clamp to exact discrete [p05, p95]
        "winsorized_stats": A.winsorized_stats,
        # bounded Bellman-Ford over the weighted supplier<->customer graph
        "sssp_weighted": _sssp_weighted,
        # per-source KS drift of doc length vs the corpus (micro-CDF grid)
        "ks_drift": _ks_drift,
        # streaming trending-items: watermarked daily window counts ->
        # idempotent overwrite sink -> top-k over the bounded day frame
        "streaming_topk": S.streaming_topk_query,
        # greedy k-center coreset (diversity exemplars, exact quantized L2)
        "kcenter_coreset": _kcenter_coreset,
        # MinHash quality harness: estimated vs exact Jaccard per candidate
        "minhash_est_error": _docs(minhash_estimate_error),
        # -- new round 9 --
        # the trained BPE merge table (closes the map's last no_oracle
        # row: trainer hash-checked directly, encoder as expansion twin)
        "bpe_merges": _bpe_merges,
        # per-dimension embedding audit (vector QC: one posexplode +
        # one |dims|-group aggregate)
        "embedding_qc": _embedding_qc,
        # weekly power-of-two decayed per-user activity score (in-plan
        # 1-row anchor broadcast)
        "decayed_activity": _decayed_activity,
        # corpus-order n-gram novelty (first-occurrence redundancy curve)
        "ngram_novelty": _docs(ngram_novelty),
        # linear gap interpolation on the daily grid (deterministic
        # outage mask so the interpolation path self-exercises)
        "linear_interpolate": lambda spark, sf_dir: linear_interpolate_daily(
            read_events(spark, sf_dir)
        ),
        # rendezvous (HRW) consistent sharding — scan-side only, no shuffle
        "rendezvous_shards": _docs(rendezvous_shards),
        # Benford leading-digit audit (hardcoded log10 ppm constants,
        # 9-row map-side-combinable aggregate)
        "benford_audit": benford_query,
        # per-segment Gini spend concentration — bucketed two-phase
        # prefix scan, never a 5-partition per-group window
        "gini_segment": gini_segment_query,
        # reciprocal-rank fusion of BM25 + length-prior top-N lists
        # (hybrid-retrieval combiner; fusion runs over bounded frames)
        "rrf_fusion": _docs(
            lambda df: rrf_hybrid_query(df, BM25_QUERY_TERMS)
        ),
        # per-source unigram entropy + type-token ratio (bit-length
        # idiom; two map-side-combinable aggregates)
        "source_entropy": source_entropy_query,
        # content-defined chunking dedup audit (rolling trigram-hash
        # cuts; chunk-level boilerplate signal)
        "cdc_dedup": cdc_dedup_query,
        # alpha=0.5 temperature source-mixing table (floor(sqrt) weights
        # — IEEE sqrt is correctly rounded, so cross-engine exact)
        "temperature_mix": temperature_mix_query,
        # within-source percentile-rank normalization via the bucketed
        # two-phase rank (never a per-group global window)
        "percentile_normalize": percentile_normalize_query,
        # bounded-round k-core peel over the supplier-customer graph
        # (per round: one degree groupBy + two keyed semi-joins)
        "kcore_nodes": _kcore_nodes,
        # exact heavy hitters: per-partition Misra-Gries candidates
        # (stateful Arrow kernel, no shuffle) + broadcast exact verify
        "heavy_hitters": heavy_hitters_query,
        # per-node local clustering coefficient (degree-oriented
        # triangle counter + node-sized degree agg, integer micro)
        "clustering_coeff": _clustering_coeff,
        # Resource Allocation link prediction on the supplier-part
        # bipartite graph (hub-capped wedge enumeration ≤ cap·|E|)
        "ra_linkpred": _ra_linkpred,
        # distinct l-diversity census (homogeneity-attack audit): two
        # stacked map-side-combinable groupBys, cell-sized shuffle
        "l_diversity": _l_diversity_audit,
        # per-nation Spearman rho between acctbal and total spend —
        # tie-averaged doubled ranks via the bucketed two-phase scan,
        # exact BIGINT moments, IEEE-deterministic milli rho
        "spearman_corr": spearman_query,
        # KMV bottom-k distinct sketch per priority + 'ALL' union row
        # (map-side Arrow bottom-k partials, lossless candidate merge)
        "kmv_distinct": kmv_query,
        # hashing-trick featurization collision audit (64 signed
        # buckets; pure map-side projection + one bounded groupBy)
        "feature_hash": feature_hash_query,
        # Holt level+trend smoothing per priority (1024-denominated
        # coefficients, arithmetic-shift floor division, one
        # F.aggregate fold per series — parallel across series)
        "holt_smooth": holt_query,
        # correlated LATERAL subquery join (per-nation top-3 by
        # balance; Catalyst rewrites to a partitioned window top-k)
        "lateral_topk": SQ.lateral_topk_query,
        # per-document top-3 tf-idf keywords (bit-length idf, df-pct
        # stopword cap, per-doc window — the GOOD window shape)
        "doc_keywords": doc_keywords_query,
        # MMR diversified retrieval over the ANN pool (integer 7/3
        # lambda, per-query Arrow greedy; unrolled-CTE oracle)
        "mmr_diversify": _mmr_diversify,
        # Mann-Whitney U rank-sum per event type (doubled tie-averaged
        # ranks from per-value counts — never a per-row rank)
        "mann_whitney": mann_whitney_query,
        # Welch unequal-variance t per market segment (exact decimal
        # moments, one IEEE expression tail)
        "welch_ttest": welch_ttest_query,
        # top-25 users by peak-to-trough drawdown of the cumulative
        # balance (two stacked per-series windows, exact cents)
        "max_drawdown": max_drawdown_query,
        # additive trend/weekly-seasonal/residual split of the daily
        # count series (centered 7-day MA over the day-grain frame)
        "seasonal_decompose": seasonal_decompose_query,
        # ordered-attribute EMD per equivalence class vs the global
        # distribution (cross-multiplied cumulative counts, exact ppm)
        "t_closeness": t_closeness_query,
        # segment x priority mutual information in the bit-length-lift
        # idiom (one contingency groupBy, domain-sized marginals)
        "mutual_information": mutual_information_query,
        # tug-of-war F2 (self-join size) sketch: 16 signed sums in one
        # map-side pass, lower-median-of-group-sums estimate vs exact
        "ams_f2": ams_f2_query,
        # Theil-Sen robust slope per series: median pairwise slope over
        # the day-grain frame (calendar-bounded pairs, exact milli)
        "theil_sen": theil_sen_query,
        # RFM quintile census (positional integer quintiles via the
        # bucketed two-phase rank — no ntile, no global window)
        "rfm_segments": rfm_segments_query,
        # 32 deterministic half-sample means per group in ONE aggregate
        # (no row explosion); decile band = mean-trust diagnostic
        "subsample_ci": subsample_ci_query,
        # Neyman audit-budget allocation with exact Hamilton
        # largest-remainder rounding over the strata frame
        "neyman_allocation": neyman_allocation_query,
        # daily-count Fano factor (overdispersion) per stream — exact
        # cross-multiplied integer ratio, two stacked aggregates
        "burstiness": burstiness_query,
        # positional p50/p90 per-user inter-arrival gaps per stream
        # (bucketed two-phase rank — no per-stream global window)
        "interarrival": interarrival_query,
        # ABC/Pareto class census via the two-phase bucketed EXACT
        # cumulative sum (rank + running revenue, no global window)
        "abc_classes": abc_classes_query,
        # Kaplan-Meier discrete risk table over user tenure (censored
        # last-day users; suffix sum over the tenure-day frame)
        "survival_hazard": survival_hazard_query,
        # character-class shape census (format-drift profiler; scan-
        # stage regex, shape-domain-sized census)
        "shape_profile": shape_profile_query,
        # 2x2 odds ratio per segment (the FAERS disproportionality
        # shape) — four conditional sums, exact milli OR
        "odds_ratio": odds_ratio_query,
        # Wald-Wolfowitz runs test on daily up/down moves (randomness
        # vs trend/oscillation; exact moments, IEEE tail)
        "runs_test": runs_test_query,
        # Hodges-Lehmann pseudomedian of daily volume (lower median of
        # Walsh-average pair sums over the day-grain frame)
        "hodges_lehmann": hodges_lehmann_query,
        # --- round 10 ---
        # Kruskal-Wallis k-sample rank test (doubled tie-averaged
        # ranks from per-value counts; decimal rank sums; fixed-k
        # expression tree — no float SUM)
        "kruskal_wallis": kruskal_wallis_query,
        # Kendall tau-b concordance on the calendar-bounded daily
        # series (all-pairs on the day grain, exact integer counts)
        "kendall_tau": kendall_tau_query,
        # Theil's uncertainty coefficient U(x|y) — asymmetric
        # categorical association via the bit-length entropy idiom
        "theils_u": theils_u_query,
        # pairwise source cross-entropy matrix (add-1-smoothed unigram
        # LM, bits idiom; OOV mass rides the totals — only the shared
        # vocab is joined)
        "source_xentropy": source_xentropy_query,
        # per-source Zipf rank-frequency slope (bits-vs-bits OLS over
        # bucketed ranks; decimal cross products)
        "zipf_slope": zipf_slope_query,
        # peak concurrent 30-min event windows per day (distributed
        # +1/-1 sweep line; two-phase bucketed prefix, no global window)
        "peak_concurrency": peak_concurrency_query,
        # Cochran-Armitage 2xk ordered trend test (one conditional-sum
        # aggregate; decimal sufficient statistics)
        "cochran_armitage": cochran_armitage_query,
        # Brown-Forsythe variance-homogeneity test (exact distributed
        # per-cohort median + fixed-k ANOVA F over |x - med|)
        "brown_forsythe": brown_forsythe_query,
        # Gumbel method-of-moments fit of monthly block maxima (exact
        # integer maxima moments, literal-constant IEEE tail)
        "gumbel_fit": gumbel_fit_query,
        # record-breaking-day census per series (keyed running max over
        # the day grain; iid-vs-trend drift probe)
        "record_days": record_days_query,
        # bigram conditional entropy rate per source (bits idiom over
        # adjacent-bigram counts; template-text detector)
        "cond_entropy_rate": cond_entropy_rate_query,
        # phi / Matthews correlation per segment 2x2 (decimal numerator,
        # bounded effect size next to the odds ratio)
        "phi_coefficient": phi_coefficient_query,
        # Ljung-Box portmanteau over 5 lags (fixed-m pivoted tree, exact
        # n²-scaled autocovariances; gap-exact pair counts)
        "ljung_box": ljung_box_query,
        # Dickey-Fuller t on the lag-1 regression (mean-reversion vs
        # random walk; correlation-form t over decimal moments)
        "adf_test": adf_t_query,
        # order-3 permutation entropy (ordinal-pattern complexity via
        # the bits idiom; periodic load scores 0)
        "permutation_entropy": permutation_entropy_query,
        # executable dedup manifest: components over the MinHash graph,
        # keep-longest policy, chars-dropped accounting
        "dedup_keep_best": partial(
            dedup_keep_best_query, threshold=JACCARD_THRESHOLD
        ),
        # per-source PII-pattern density screen (RE2-safe ASCII classes)
        "pii_density": pii_density_query,
        # max-min fair token-budget allocation across sources (integer
        # water-filling with Hamilton remainder on the bounded frame)
        "water_filling": water_filling_query,
        # the full curation chain as ONE plan (r12): keep-best dedup ->
        # PII screen -> water-filled budget + greedy per-source prefix
        # -> stable split/shard -> fingerprinted training manifest
        "curation_pipeline": partial(
            curation_pipeline_query, threshold=JACCARD_THRESHOLD
        ),
        # per-source tokenizer-fit audit of the corpus-trained BPE table
        "bpe_fertility": _bpe_fertility,
        # --- round 11 ---
        # classical one-way ANOVA F over exact cohort moments (the
        # location-mean member of the kruskal/brown-forsythe triad)
        "anova_f": anova_f_query,
        # Wilcoxon signed-rank on week-over-week paired days (doubled
        # midranks from per-|diff| counts, tie-corrected z)
        "wilcoxon_signed_rank": wilcoxon_signed_rank_query,
        # Cox-Stuart sign trend: first half paired against second half
        "cox_stuart": cox_stuart_query,
        # McNemar day-over-day activity switching (stop vs start
        # asymmetry; anti-join transitions, exact chi-square)
        "mcnemar_switching": mcnemar_switching_query,
        # Jonckheere-Terpstra ordered-cohort trend (doubled pairwise U
        # from prefix sums; decimal n²/n³ moments)
        "jonckheere_trend": jonckheere_trend_query,
        # Cramér-von Mises-type drift: integrated squared ECDF gap
        # (milli-quantized per support point — whole-distribution
        # complement to ks_drift)
        "cvm_drift": cvm_drift_query,
        # Friedman blocked day-of-week test over complete epoch weeks
        # (doubled midranks in ≤7-row blocks, fixed-7 pivot)
        "friedman_test": friedman_test_query,
        # binary-segmentation changepoint: best single split +
        # variance-explained ratio from prefix sums
        "binseg_changepoint": binseg_changepoint_query,
        # Herfindahl-Hirschman source concentration per language
        # (decimal Σc², micro/milli outputs)
        "hhi_concentration": hhi_concentration_query,
        # Flesch-Kincaid corpus readability per source (ASCII-class
        # word/sentence/vowel-group counts, totals-weighted grade)
        "readability_fk": readability_fk_query,
    }


# Round-8 driver window (VERDICT r7 "Next round" item 1): exactly the 39
# entries with a stale or absent driver hash check — the 37 never-checked
# (r7 map positions 51-86 plus hll_set_algebra) and the two former-RED
# entries (inverted_index / bpe_encode, which errored in the r5 driver run
# and have only local-sweep green since). The remaining 11 slots hold the
# stalest r4-green entries; new round-8 operators displace those as they
# land (never-checked ranks ahead of r4 in the derivation).
# Generated by: python tools/gen_window.py  (asserted in
# tests/test_entry_contract.py — do not hand-edit without re-running it).
#
# _WINDOW_BASIS pins the CORRECTNESS artifacts this window was derived
# from: the driver writes the CURRENT round's artifact before the judge
# runs pytest, and an unpinned derivation would shift under the
# checked-in list mid-round. Regenerate window + basis together each
# session (gen_window prints both).
_WINDOW_BASIS = [
    "CORRECTNESS_r01.json",
    "CORRECTNESS_r02.json",
    "CORRECTNESS_r03.json",
    "CORRECTNESS_r04.json",
    "CORRECTNESS_r05.json",
    "CORRECTNESS_r06.json",
    "CORRECTNESS_r07.json",
    "CORRECTNESS_r08.json",
    "CORRECTNESS_r09.json",
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
]
_WINDOW = [
    "curation_pipeline",  # last driver check: never
    "date_standardize",  # last driver check: r5
    "decode_ladders",  # last driver check: r5
    "regional_volume",  # last driver check: r5
    "profile_columns",  # last driver check: r5
    "shipping_priority",  # last driver check: r5
    "neardup_clusters",  # last driver check: r5
    "lsh_neardup",  # last driver check: r5
    "sessionize",  # last driver check: r5
    "sessionize_skew",  # last driver check: r5
    "range_join",  # last driver check: r5
    "date_dim",  # last driver check: r5
    "dedup_exact",  # last driver check: r5
    "minhash_lsh",  # last driver check: r5
    "corpus_curation",  # last driver check: r5
    "versioned_mor_delete",  # last driver check: r7
    "versioned_rename_read",  # last driver check: r7
    "ab_test",  # last driver check: r7
    "basket_pairs",  # last driver check: r7
    "bfs_distances",  # last driver check: r7
    "markov_transitions",  # last driver check: r7
    "top_event_paths",  # last driver check: r7
    "table_diff",  # last driver check: r7
    "mad_outliers",  # last driver check: r7
    "prefix_filter_pairs",  # last driver check: r7
    "quantile_binning",  # last driver check: r7
    "crosstab_chi2",  # last driver check: r7
    "lag_autocorr",  # last driver check: r7
    "spatial_radius_join",  # last driver check: r7
    "referential_audit",  # last driver check: r7
    "bitmap_distinct",  # last driver check: r7
    "window_suite",  # last driver check: r7
    "period_over_period",  # last driver check: r7
    "rolling_range_frame",  # last driver check: r7
    "key_skew_profile",  # last driver check: r7
    "pyds_pushdown_read",  # last driver check: r7
    "pyds_write_read",  # last driver check: r7
    "pyds_stream_tail",  # last driver check: r7
    "streaming_stateful_totals",  # last driver check: r7
    "udtf_chunks",  # last driver check: r7
    "cogroup_reconcile",  # last driver check: r7
    "linkage_scores",  # last driver check: r7
    "rolling_distinct",  # last driver check: r7
    "group_ols_trend",  # last driver check: r7
    "target_encode",  # last driver check: r7
    "interval_overlap",  # last driver check: r7
    "priority_sample",  # last driver check: r7
    "top_p_sources",  # last driver check: r7
    "streaming_join",  # last driver check: r7
    "source_overlap",  # last driver check: r7
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Window-first ordering of the full map (driver checks the first 50)."""
    all_q = _all_queries()
    missing = [k for k in _WINDOW if k not in all_q]
    if missing:  # fail loudly at import time, not in the driver's compare
        raise KeyError(f"_WINDOW names absent from _all_queries(): {missing}")
    ordered = {k: all_q[k] for k in _WINDOW}
    ordered.update((k, v) for k, v in all_q.items() if k not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    from faers_datalakehouse_spark.operators.collocations import (
        pmi_oracle_sql,
    )
    from faers_datalakehouse_spark.operators.expectations import (
        audit_oracle_sql,
    )
    from faers_datalakehouse_spark.operators.substring import (
        fingerprint_containment_oracle_sql,
    )
    from faers_datalakehouse_spark.operators.dedup import snm_oracle_sql
    from faers_datalakehouse_spark.operators.graph import triangle_oracle_sql
    from faers_datalakehouse_spark.operators.pq import (
        pq_encode_oracle_sql,
        pq_recall_oracle_sql,
        pq_topk_oracle_sql,
    )

    from faers_datalakehouse_spark.operators.ranking import (
        allpairs_oracle_sql,
    )

    return {
        "versioned_mor_delete": S.VERSIONED_MOR_DELETE_SQL,
        "versioned_rename_read": S.VERSIONED_RENAME_READ_SQL,
        "ab_test": A.ab_test_oracle_sql(),
        "basket_pairs": basket_pairs_oracle_sql(BASKET_SQL, top_n=25),
        "markov_transitions": A.MARKOV_TRANSITIONS_SQL,
        "top_event_paths": A.top_event_paths_oracle_sql(),
        "table_diff": table_diff_oracle_sql(
            DIFF_LEFT_SQL, DIFF_RIGHT_SQL, ["o_orderkey"], DIFF_COMPARE
        ),
        "mad_outliers": A.MAD_OUTLIERS_SQL,
        "prefix_filter_pairs": prefix_filter_oracle_sql(threshold_milli=900),
        "quantile_binning": A.quantile_binning_oracle_sql(),
        "crosstab_chi2": A.CROSSTAB_CHI2_SQL,
        "lag_autocorr": A.lag_autocorrelation_oracle_sql(),
        "spatial_radius_join": spatial_oracle_sql(),
        "referential_audit": REFERENTIAL_AUDIT_SQL,
        "bitmap_distinct": BITMAP_DISTINCT_SQL,
        "window_suite": A.WINDOW_SUITE_SQL,
        "period_over_period": A.PERIOD_OVER_PERIOD_SQL,
        "rolling_range_frame": A.ROLLING_RANGE_FRAME_SQL,
        "key_skew_profile": A.key_skew_oracle_sql(),
        "pyds_pushdown_read": S.PYDS_PUSHDOWN_READ_SQL,
        "pyds_write_read": S.PYDS_WRITE_READ_SQL,
        "pyds_stream_tail": S.PYDS_STREAM_TAIL_SQL,
        "streaming_stateful_totals": S.STREAMING_STATEFUL_TOTALS_SQL,
        "udtf_chunks": UDTF_CHUNKS_SQL,
        "cogroup_reconcile": ORDER_RECONCILIATION_SQL,
        "linkage_scores": linkage_oracle_sql(),
        "rolling_distinct": rolling_distinct_oracle_sql(),
        "group_ols_trend": A.GROUP_OLS_TREND_SQL,
        "target_encode": target_encode_oof_oracle_sql(),
        "interval_overlap": TRANSIT_AUDIT_OVERLAPS_SQL,
        "priority_sample": priority_sample_oracle_sql(),
        "top_p_sources": TOP_P_SOURCES_SQL,
        "streaming_join": S.STREAMING_JOIN_SQL,
        "source_overlap": source_overlap_oracle_sql(),
        "asof_nearest": S.ASOF_NEAREST_SQL,
        "versioned_evolve": S.VERSIONED_EVOLVE_SQL,
        "source_minhash": source_minhash_oracle_sql(),
        "sql_scripting": SQ.SQL_SCRIPTING_SQL,
        "sql_variables": SQ.SQL_VARIABLES_SQL,
        "observed_quality": SQ.OBSERVED_QUALITY_SQL,
        "pandas_api": SQ.PANDAS_API_SQL,
        "udtf_dateparts": UDTF_DATEPARTS_SQL,
        "seq_match": SEQ_MATCH_SQL,
        "streaming_dedup": S.STREAMING_DEDUP_SQL,
        "streaming_enrich": S.STREAMING_ENRICH_SQL,
        "streaming_scd2": S.SCD2_SCENARIO_SQL,
        "ohlc_bars": OHLC_BARS_SQL,
        "twap_daily": TWAP_DAILY_SQL,
        "window_funnel": WINDOW_FUNNEL_SQL,
        "distinctive_terms": distinctive_terms_oracle_sql(),
        "rolling_hll": rolling_hll_oracle_sql(),
        "scd2_event_enrich": S.SCD2_EVENT_ENRICH_SQL,
        "weighted_quantiles": WEIGHTED_QUANTILES_SQL,
        "cdc_apply_seq": S.CDC_APPLY_SEQ_SQL,
        "incremental_sessionize": A.SESSIONIZE_SQL.format(
            gap_us=30 * 60 * 1_000_000
        ),
        "bfs_distances": bfs_oracle_sql(
            PAGERANK_EDGES_SQL, BFS_SOURCES, max_hops=3
        ),
        "variant_extract": A.VARIANT_EXTRACT_SQL,
        "comoment_matrix": A.COMOMENT_MATRIX_SQL,
        "categorical_encode": A.CATEGORICAL_ENCODE_SQL,
        "anomaly_days": A.ANOMALY_DAYS_SQL,
        "pareto_front": A.PARETO_FRONT_SQL,
        "ewma_daily": A.ewma_daily_oracle_sql(window=8),
        "levenshtein_pairs": levenshtein_pairs_oracle_sql(
            "part", "p_name", max_dist=3, band_width=4
        ),
        "histogram_quantiles": histogram_quantiles_oracle_sql(
            "lineitem",
            "l_extendedprice",
            ["l_returnflag"],
            probs_milli=[250, 500, 950],
        ),
        "k_anonymity_audit": k_anonymity_audit_oracle_sql(
            "customer", KANON_QUASI, k=KANON_K
        ),
        "k_suppress": K_SUPPRESS_SQL,
        "interleave_sources": T.INTERLEAVE_SOURCES_SQL,
        "snm_neardup": snm_oracle_sql(
            window=4, prefix_len=32, max_distance=10
        ),
        "allpairs_tfidf": allpairs_oracle_sql(
            n=3, max_df_pct=20, min_dot=300
        ),
        "bucketed_join": S.BUCKETED_JOIN_SQL,
        "streaming_attribution": S.STREAMING_ATTRIBUTION_SQL,
        "versioned_bloom_read": S.VERSIONED_BLOOM_READ_SQL,
        "versioned_partition_ops": S.VERSIONED_PARTITION_SQL,
        "streaming_versioned_ingest": S.STREAMING_VERSIONED_INGEST_SQL,
        "versioned_restore": S.VERSIONED_RESTORE_SQL,
        "versioned_zorder_read": S.VERSIONED_ZORDER_READ_SQL,
        "pq_encode": pq_encode_oracle_sql(**S.PQ_PARAMS),
        "pq_topk": pq_topk_oracle_sql(
            S.PQ_QUERY, topk=10, **S.PQ_PARAMS
        ),
        "pq_recall": pq_recall_oracle_sql(
            n_queries=8, topk=5, **S.PQ_PARAMS
        ),
        "expectations_audit": audit_oracle_sql(
            S.ORDER_EXPECTATIONS, "orders"
        ),
        "quarantine_rows": S.QUARANTINE_ROWS_SQL,
        "systematic_sample": S.SYSTEMATIC_SAMPLE_DOC_SQL.format(step=2000),
        "triangle_counts": triangle_oracle_sql(S.TRIANGLE_EDGES_SQL),
        "versioned_read": S.VERSIONED_READ_SQL,
        "versioned_delete": S.VERSIONED_DELETE_SQL,
        "versioned_skip_read": S.VERSIONED_SKIP_READ_SQL,
        "versioned_changes": S.VERSIONED_CHANGES_SQL,
        "versioned_merge": S.VERSIONED_MERGE_SQL,
        "incremental_matview": S.INCREMENTAL_MATVIEW_SQL,
        "hll_registers": S.hll_registers_oracle(),
        "hll_by_group": S.hll_by_group_oracle(),
        "hll_set_algebra": hll_set_algebra_oracle_sql(),
        "cms_counts": S.cms_counts_oracle(),
        "bloom_prefilter": S.BLOOM_PREFILTER_SQL,
        "bm25_topk": bm25_oracle_sql(BM25_QUERY_TERMS, k=15),
        "inverted_index": inverted_index_oracle_sql(
            max_df=INVIDX_MAX_DF, flat=True
        ),
        "dsir_weights": dsir_oracle_sql("TRUE", "lang = 'en'", n_buckets=256),
        "dsir_select": dsir_select_oracle_sql(
            "TRUE", "lang = 'en'", n=100, n_buckets=256
        ),
        "winnowing_fingerprints": winnowing_oracle_sql(k=5, w=4),
        "bigram_surprisal": bigram_surprisal_oracle_sql(),
        "gap_fill_daily": gap_fill_oracle_sql(),
        # iterative oracle: 2 damped integer power steps unrolled as CTEs
        "pagerank": pagerank_oracle_sql(PAGERANK_EDGES_SQL, iters=2),
        "zorder_curve": ZORDER_CURVE_SQL,
        "attribution": A.ATTRIBUTION_SQL.format(conv="purchase"),
        "cohort_retention": A.COHORT_RETENTION_SQL,
        "value_histogram": A.VALUE_HISTOGRAM_SQL.format(n_bins=20),
        "ann_recall": ANN_RECALL_SQL_TEMPLATE.format(
            exact_sql=ANN_TOPK_SQL_TEMPLATE.format(
                quant=QUANT, query_mod=ANN_QUERY_MOD, k=ANN_K
            ),
            ivf_sql=IVF_TOPK_SQL_TEMPLATE.format(
                quant=QUANT, query_mod=ANN_QUERY_MOD, k=ANN_K,
                n_cells=16, nprobe=1,
            ),
        ),
        "pricing_summary": A.PRICING_SUMMARY_SQL,
        "topk_parts": A.TOPK_PARTS_SQL.format(k=20),
        "topk_by_group": A.TOPK_BY_GROUP_SQL.format(k=3),
        "pct_of_total": A.PCT_OF_TOTAL_SQL,
        "global_summary": A.GLOBAL_SUMMARY_SQL,
        "latest_day_activity": A.LATEST_DAY_ACTIVITY_SQL,
        "temporal_trend": A.TEMPORAL_TREND_SQL,
        "sessionize": A.SESSIONIZE_SQL.format(gap_us=30 * 60 * 1_000_000),
        # identical semantics to sessionize — the skew path must reproduce
        # the exact same frame, so it shares the oracle verbatim
        "sessionize_skew": A.SESSIONIZE_SQL.format(gap_us=30 * 60 * 1_000_000),
        # the streaming twin lands in a parquet table via foreachBatch and
        # must hash-match the SAME batch frame — a full streaming-to-batch
        # equivalence check under the driver's oracle
        "streaming_sessionize": A.SESSIONIZE_SQL.format(
            gap_us=30 * 60 * 1_000_000
        ),
        "json_extract_agg": A.JSON_EXTRACT_AGG_SQL,
        "shipping_priority": A.SHIPPING_PRIORITY_SQL.format(k=10),
        "regional_volume": A.REGIONAL_VOLUME_SQL,
        "moving_average": A.MOVING_AVERAGE_SQL.format(prev=6),
        "segment_status_pivot": A.SEGMENT_STATUS_PIVOT_SQL,
        "distinct_profile": A.DISTINCT_PROFILE_SQL,
        "rollup_volume": A.ROLLUP_VOLUME_SQL,
        "grouping_sets_volume": A.GROUPING_SETS_VOLUME_SQL,
        "cube_volume": A.CUBE_VOLUME_SQL,
        "profile_columns": A.PROFILE_COLUMNS_SQL,
        "quantiles_by_group": A.QUANTILES_BY_GROUP_SQL,
        "customer_retention_setops": A.CUSTOMER_RETENTION_SETOPS_SQL,
        "sql_api_trend": A.SQL_API_TREND_SQL,
        "unpivot_measures": A.UNPIVOT_MEASURES_SQL,
        "date_dim": date_dim_oracle(),
        "fact_sales": FACT_SALES_ORACLE_SQL,
        "decode_ladders": DECODE_LADDERS_SQL,
        "scd2_merge": S.SCD2_SCENARIO_SQL,
        "date_standardize": S.DATE_STANDARDIZE_SQL,
        "numeric_standardize": S.NUMERIC_STANDARDIZE_SQL,
        "asof_join": S.ASOF_JOIN_SQL,
        "range_join": S.RANGE_JOIN_SQL,
        "salted_join": S.SALTED_JOIN_SQL,
        "dedup_exact": DEDUP_EXACT_SQL,
        "multimodal_decode": S.MULTIMODAL_DECODE_SQL,
        "ngram_jaccard": NGRAM_JACCARD_SQL_TEMPLATE.format(
            k=JACCARD_K, threshold=JACCARD_THRESHOLD, band=JACCARD_BAND
        ),
        "minhash_lsh": minhash_lsh_oracle_sql(threshold=JACCARD_THRESHOLD),
        # The Arrow-kernel SimHash is md5-based, so even the Python path has
        # an exact SQL twin (bit extraction from md5 hex nibbles).
        "simhash_neardup": simhash_oracle_sql(),
        "contamination_check": contamination_oracle_sql(n=3, bench_mod=97),
        # Recursive-CTE twin over the same deterministic MinHash pair SQL.
        "neardup_clusters": cluster_oracle_sql(
            minhash_lsh_oracle_sql(threshold=JACCARD_THRESHOLD)
        ),
        "neardup_clusters_star": cluster_oracle_sql(
            minhash_lsh_oracle_sql(threshold=JACCARD_THRESHOLD)
        ),
        "incremental_dedup": incremental_dedup_oracle_sql(
            "doc_id % 5 <> 0", "doc_id % 5 = 0", threshold=JACCARD_THRESHOLD
        ),
        "dup_spans": dup_spans_oracle_sql(k=8),
        "quality_classifier": quality_oracle_sql(n_buckets=1024),
        "corpus_curation": S.corpus_curation_oracle_sql(
            min_score=0.5, min_tokens=10
        ),
        "token_count": S.TOKEN_COUNT_SQL,
        "chunk_documents": S.chunk_documents_oracle_sql(chunk_size=32, overlap=8),
        "redact_pii": S.redact_pii_oracle_sql(),
        "split_assign": S.SPLIT_ASSIGN_SQL,
        "stratified_cap": S.STRATIFIED_CAP_SQL.format(cap=30),
        "text_quality": S.TEXT_QUALITY_SQL,
        "repetition_filter": S.REPETITION_FILTER_SQL,
        "mixture_weights": S.MIXTURE_WEIGHTS_SQL,
        "lang_id": S.LANG_ID_SQL,
        "fingerprint_dedup": S.FINGERPRINT_SQL,
        "surprisal_scores": surprisal_oracle_sql(),
        "funnel_steps": A.FUNNEL_STEPS_SQL,
        "vocab_stats": T.vocab_stats_oracle_sql(top_n=100),
        "bpe_pair_counts": T.bpe_pair_counts_oracle_sql(top_n=50),
        "pack_sequences": T.pack_sequences_oracle_sql(budget=512, n_shards=4),
        "shard_manifest": T.shard_manifest_oracle_sql(n_shards=8),
        "ann_topk": ANN_TOPK_SQL_TEMPLATE.format(
            quant=QUANT, query_mod=ANN_QUERY_MOD, k=ANN_K
        ),
        # Approximate path, exact arithmetic: integer-hyperplane buckets are
        # bit-identical cross-engine, so even ANN is hash-checked.
        "ann_lsh_topk": ann_lsh_oracle_sql(query_mod=ANN_QUERY_MOD, k=ANN_K),
        "ann_ivf_topk": IVF_TOPK_SQL_TEMPLATE.format(
            quant=QUANT, query_mod=ANN_QUERY_MOD, k=ANN_K, n_cells=16, nprobe=1
        ),
        "ann_ivf_topk_nprobe2": IVF_TOPK_SQL_TEMPLATE.format(
            quant=QUANT, query_mod=ANN_QUERY_MOD, k=ANN_K, n_cells=16, nprobe=2
        ),
        # Every Lloyd round mirrored exactly (seeds, argmin tiebreak, integer
        # centroid rounding) — an iterative algorithm with a hash-green oracle.
        "kmeans_clusters": kmeans_oracle_sql(k=8, iters=2, dims=64),
        "cosine_neardup": COSINE_NEARDUP_SQL_TEMPLATE.format(
            quant=QUANT, threshold=NEARDUP_COS_THRESHOLD
        ),
        "semantic_neardup": semantic_neardup_oracle_sql(
            k=8, iters=2, threshold=NEARDUP_COS_THRESHOLD, dims=64
        ),
        # Oracle-checked even though it's the approximate path: the integer
        # hyperplane buckets are bit-identical across engines.
        "lsh_neardup": lsh_neardup_oracle_sql(NEARDUP_COS_THRESHOLD, n_planes=8),
        # -- round 8 --
        "recursive_cte_reach": SQ.RECURSIVE_REACH_SQL,
        "pipe_syntax_trend": SQ.PIPE_SYNTAX_TREND_SQL,
        "pmi_collocations": pmi_oracle_sql(),
        "proportional_split": T.proportional_split_oracle_sql(),
        "vocab_coverage": T.vocab_coverage_oracle_sql(),
        "cusum_changepoint": A.CUSUM_CHANGEPOINT_SQL,
        "fingerprint_containment": fingerprint_containment_oracle_sql(),
        "winsorized_stats": A.WINSORIZED_STATS_SQL,
        "sssp_weighted": sssp_oracle_sql(
            SSSP_EDGES_SQL, SSSP_SOURCES, rounds=SSSP_ROUNDS
        ),
        "ks_drift": ks_drift_oracle_sql("documents", "source", "n_chars"),
        "streaming_topk": S.STREAMING_TOPK_SQL,
        "kcenter_coreset": kcenter_oracle_sql(k=6),
        "minhash_est_error": minhash_estimate_error_oracle_sql(),
        "bpe_merges": bpe_merges_oracle_sql(n_merges=10),
        "bpe_encode": bpe_encode_oracle_sql(n_merges=10),
        "embedding_qc": embedding_qc_oracle_sql(),
        "decayed_activity": decayed_activity_oracle_sql(),
        "ngram_novelty": ngram_novelty_oracle_sql(),
        "linear_interpolate": linear_interpolate_oracle_sql(),
        "rendezvous_shards": rendezvous_oracle_sql(),
        "benford_audit": benford_oracle_sql(),
        "gini_segment": GINI_SEGMENT_SQL,
        "rrf_fusion": rrf_hybrid_oracle_sql(BM25_QUERY_TERMS),
        "source_entropy": SOURCE_ENTROPY_SQL,
        "cdc_dedup": cdc_oracle_sql(),
        "temperature_mix": TEMPERATURE_MIX_SQL,
        "percentile_normalize": PERCENTILE_NORMALIZE_SQL,
        "kcore_nodes": kcore_oracle_sql(
            KCORE_EDGES_SQL, k=KCORE_K, rounds=KCORE_ROUNDS
        ),
        "heavy_hitters": heavy_hitters_oracle_sql(k=50),
        "l_diversity": l_diversity_oracle_sql(
            "orders JOIN customer ON o_custkey = c_custkey",
            list(LDIV_QUASI),
            LDIV_SENSITIVE,
            l=LDIV_L,
        ),
        "spearman_corr": SPEARMAN_SQL,
        "kmv_distinct": kmv_oracle_sql(k=64),
        "feature_hash": feature_hash_oracle_sql(n_buckets=64),
        "holt_smooth": holt_oracle_sql(),
        "lateral_topk": SQ.LATERAL_TOPK_SQL,
        "doc_keywords": doc_keywords_oracle_sql(k=3, max_df_pct=80),
        "mmr_diversify": mmr_oracle_sql(
            query_mod=ANN_QUERY_MOD, pool_n=16, k_sel=5
        ),
        "clustering_coeff": lcc_oracle_sql(S.TRIANGLE_EDGES_SQL),
        "ra_linkpred": ra_oracle_sql(
            RA_BIPARTITE_SQL,
            max_hub_deg=RA_MAX_HUB_DEG,
            min_score_micro=RA_MIN_SCORE_MICRO,
        ),
        "mann_whitney": MANN_WHITNEY_SQL,
        "welch_ttest": WELCH_TTEST_SQL,
        "max_drawdown": MAX_DRAWDOWN_SQL,
        "seasonal_decompose": SEASONAL_DECOMPOSE_SQL,
        "t_closeness": T_CLOSENESS_SQL,
        "mutual_information": MUTUAL_INFORMATION_SQL,
        "ams_f2": ams_f2_oracle_sql(),
        "theil_sen": THEIL_SEN_SQL,
        "rfm_segments": RFM_SEGMENTS_SQL,
        "subsample_ci": subsample_ci_oracle_sql(),
        "neyman_allocation": NEYMAN_ALLOCATION_SQL,
        "burstiness": BURSTINESS_SQL,
        "interarrival": INTERARRIVAL_SQL,
        "abc_classes": ABC_CLASSES_SQL,
        "survival_hazard": SURVIVAL_HAZARD_SQL,
        "shape_profile": SHAPE_PROFILE_SQL,
        "odds_ratio": ODDS_RATIO_SQL,
        "runs_test": RUNS_TEST_SQL,
        "hodges_lehmann": HODGES_LEHMANN_SQL,
        "kruskal_wallis": KRUSKAL_WALLIS_SQL,
        "kendall_tau": KENDALL_TAU_SQL,
        "theils_u": THEILS_U_SQL,
        "source_xentropy": SOURCE_XENTROPY_SQL,
        "zipf_slope": ZIPF_SLOPE_SQL,
        "peak_concurrency": PEAK_CONCURRENCY_SQL,
        "cochran_armitage": COCHRAN_ARMITAGE_SQL,
        "brown_forsythe": BROWN_FORSYTHE_SQL,
        "gumbel_fit": GUMBEL_FIT_SQL,
        "record_days": RECORD_DAYS_SQL,
        "cond_entropy_rate": COND_ENTROPY_RATE_SQL,
        "phi_coefficient": PHI_COEFFICIENT_SQL,
        "ljung_box": ljung_box_oracle_sql(),
        "adf_test": ADF_T_SQL,
        "permutation_entropy": PERMUTATION_ENTROPY_SQL,
        "dedup_keep_best": keep_best_oracle_sql(
            minhash_lsh_oracle_sql(threshold=JACCARD_THRESHOLD)
        ),
        "curation_pipeline": curation_pipeline_oracle_sql(
            minhash_lsh_oracle_sql(threshold=JACCARD_THRESHOLD)
        ),
        "pii_density": PII_DENSITY_SQL,
        "water_filling": WATER_FILLING_SQL,
        "bpe_fertility": bpe_fertility_oracle_sql(n_merges=10),
        "anova_f": ANOVA_F_SQL,
        "wilcoxon_signed_rank": WILCOXON_SIGNED_RANK_SQL,
        "cox_stuart": COX_STUART_SQL,
        "mcnemar_switching": MCNEMAR_SQL,
        "jonckheere_trend": JONCKHEERE_SQL,
        "cvm_drift": CVM_DRIFT_SQL,
        "friedman_test": friedman_oracle_sql(),
        "binseg_changepoint": BINSEG_SQL,
        "hhi_concentration": HHI_SQL,
        "readability_fk": READABILITY_FK_SQL,
    }


DECODE_LADDERS_SQL = """
SELECT
  o.o_orderkey AS order_key,
  CASE o.o_orderpriority WHEN '1-URGENT' THEN 'Critical' WHEN '2-HIGH' THEN 'High'
       WHEN '3-MEDIUM' THEN 'Medium' WHEN '4-NOT SPECIFIED' THEN 'Unspecified'
       WHEN '5-LOW' THEN 'Low' ELSE 'Unknown' END AS priority_tier,
  CASE o.o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Fulfilled'
       WHEN 'P' THEN 'Partial' ELSE 'Unknown' END AS order_status,
  CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 'Automotive'
       WHEN 'BUILDING' THEN 'Construction' WHEN 'FURNITURE' THEN 'Home Goods'
       WHEN 'HOUSEHOLD' THEN 'Consumer' WHEN 'MACHINERY' THEN 'Industrial'
       ELSE 'Unknown' END AS market_segment,
  CASE WHEN c.c_acctbal IS NULL THEN 'Unknown'
       WHEN c.c_acctbal < 0.0 THEN 'Delinquent'
       WHEN c.c_acctbal < 1000.0 THEN 'Low'
       WHEN c.c_acctbal < 5000.0 THEN 'Medium'
       ELSE 'High' END AS account_tier,
  CASE WHEN o.o_totalprice IS NULL THEN 'Unknown'
       WHEN o.o_totalprice < 50000.0 THEN 'Small'
       WHEN o.o_totalprice < 150000.0 THEN 'Medium'
       WHEN o.o_totalprice < 300000.0 THEN 'Large'
       ELSE 'Jumbo' END AS order_size_tier
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""
