"""Cross-source n-gram overlap matrix — corpus-level contamination
diagnosis between SOURCES (not documents).

``contamination_check`` answers "which documents overlap a benchmark";
curation teams also need the source-pair view: "does crawl-A
substantially duplicate crawl-B?" — the signal for dropping or
down-weighting a whole feed before any per-document dedup runs. The
statistic is per-pair distinct n-gram overlap and its exact Jaccard
(in milli-units, the repo-wide integer-exactness convention).

Scale shape: the fact reduces to DISTINCT (source, ngram) in one
shuffle (map-side partial dedup; size = vocabulary x sources, NOT
corpus rows), then each n-gram collapses to its sorted SOURCE SET and
all i<j source pairs are generated MAP-SIDE from that array — fan-out
bounded by |sources|² per n-gram, never corpus-quadratic, and cheaper
than the equivalent ngram-keyed self-join (which would re-evaluate the
n-gram pipeline once per plan consumer; measured). Marginal counts
ride the same explode as NULL-marked rows and attach via windows over
the tiny (|pairs|+|sources|)-row counts frame, keeping every expensive
node single-consumer. At 100 TB the only data-proportional stages are
the initial distinct and the vocab-sized set aggregation.

N-grams reuse ``contamination._distinct_ngrams`` (lowercased
whitespace token windows, per-document dedup before explode) so the
DuckDB twin shares the exact tokenization already proven cross-engine.

No counterpart in the reference (LLM-curation extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .contamination import _distinct_ngrams
from ..sources.tables import read_table


def source_overlap_matrix(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Upper-triangle source-pair overlap: ``(source_a, source_b,
    n_a, n_b, shared, jaccard_milli)`` where n_a/n_b are each side's
    distinct n-gram counts, ``shared`` the distinct n-grams present in
    both, and ``jaccard_milli = (1000*shared) div (n_a+n_b-shared)``
    exact integer."""
    grams = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(_distinct_ngrams(F.col(text_col), n)).alias("ng"),
        )
        .distinct()
    )
    # one pass over the expensive n-gram frame: reduce each ngram to its
    # sorted source SET, then both the pair counts and the marginals
    # derive from that vocab-sized frame — a naive self-join would
    # re-evaluate the n-gram generation once per consumer (no
    # ReusedExchange across the alias boundary; measured 4 Generates)
    by_ng = grams.groupBy("ng").agg(
        F.sort_array(F.collect_set("src")).alias("srcs")
    )
    n_srcs = F.size("srcs")
    # all i<j pairs of the (small, |sources|-bounded) source list,
    # generated map-side — fan-out <= |sources|^2 per ngram
    pair_array = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, n_srcs),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    # marginals ride the same explode as the pairs (source_b = NULL
    # marks a marginal row), so by_ng — and the n-gram generation above
    # it — is consumed exactly ONCE in the physical plan
    src_type = dict(docs.dtypes)[source_col]
    marginal_array = F.transform(
        F.col("srcs"),
        lambda s: F.struct(
            s.alias("source_a"),
            F.lit(None).cast(src_type).alias("source_b"),
        ),
    )
    counts = (
        by_ng.select(
            F.explode(F.concat(pair_array, marginal_array)).alias("p")
        )
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # marginals attach via windows over the TINY counts frame (pair rows
    # + one NULL-marked marginal row per source), not a self-join — a
    # join would make counts a two-consumer node and replan the n-gram
    # pipeline twice (measured: no exchange/stage reuse fires across the
    # consumer boundary, doubling the dominant cost)
    w_a = Window.partitionBy("source_a")
    w_b = Window.partitionBy(F.coalesce("source_b", "source_a"))
    is_marg = F.col("source_b").isNull()
    out = (
        counts.select(
            "source_a",
            "source_b",
            "shared",
            F.max(F.when(is_marg, F.col("shared"))).over(w_a).alias("n_a"),
            F.max(F.when(is_marg, F.col("shared"))).over(w_b).alias("n_b"),
        )
        .where(F.col("source_b").isNotNull())
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "shared",
            F.expr("(1000 * shared) div (n_a + n_b - shared)")
            .cast("long")
            .alias("jaccard_milli"),
        )
    )
    return out.orderBy("source_a", "source_b")


def source_overlap_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry: trigram overlap matrix over the documents table."""
    docs = read_table(spark, sf_dir, "documents")
    return source_overlap_matrix(docs)


def source_overlap_oracle_sql(n: int = 3) -> str:
    parts = ", ".join(f"words[i+{j}]" for j in range(n))
    return f"""
WITH w AS (
  SELECT source AS src,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), g AS (
  SELECT DISTINCT src, unnest(
           CASE WHEN len(words) >= {n}
                THEN list_distinct(list_transform(
                       range(1, len(words) - {n - 2}),
                       i -> concat_ws(' ', {parts})))
                ELSE [] END) AS ng
  FROM w
), marg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_ng FROM g GROUP BY src
), pairs AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM g a JOIN g b ON a.ng = b.ng AND a.src < b.src
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       ma.n_ng AS n_a, mb.n_ng AS n_b, shared,
       CAST((1000 * shared) // (ma.n_ng + mb.n_ng - shared) AS BIGINT)
         AS jaccard_milli
FROM pairs
JOIN marg ma ON ma.src = pairs.source_a
JOIN marg mb ON mb.src = pairs.source_b
ORDER BY source_a, source_b
"""


# 2-universal hash family for MinHash: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 (Mersenne prime); x, a_i, b_i < p keep every product
# under 2^62 — exact int64 on both engines, no overflow, no libm.
_MINHASH_P = 2_147_483_647


def _minhash_a(i: int) -> int:
    # odd, non-zero multipliers spread by the golden-ratio constant
    return (2 * i + 1) * 2_654_435_761 % _MINHASH_P


def _minhash_b(i: int) -> int:
    return (i * 40_503 + 12_345) % _MINHASH_P


def source_minhash_similarity(
    docs: DataFrame,
    n: int = 3,
    k: int = 16,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """MinHash ESTIMATE of the pairwise source Jaccard — the sketch twin
    of ``source_overlap_matrix``. Each source's distinct n-gram set
    collapses to a k-component signature (component i = min over the
    set of a salted md5 hash); the estimated Jaccard of a pair is the
    fraction of matching components (Broder 1997). The signature frame
    is |sources| x k — constant-size however large the corpus — which
    is the point: at 100 TB the exact matrix costs a vocabulary-sized
    set aggregation per refresh, while signatures are ONE
    map-side-combinable min-aggregation and can be merged incrementally
    (min is associative) as new batches land.

    Everything is deterministic integer arithmetic, and the hash family
    is the textbook 2-universal ``h_i(x) = (a_i*x + b_i) mod p`` over a
    SINGLE md5-derived base integer per n-gram (p = 2^31 - 1, odd a_i) —
    k salted md5s per row would cost k full digest passes over the
    string (measured ~7 s at sf0.1 for k=16; one md5 + 16 integer maps
    is ~5x cheaper and the theoretically standard MinHash family).
    Both engines replay the mins AND the exact
    ``(1000*matches) div k`` milli-estimates bit-for-bit. The pairwise
    comparison is a self-join of the |sources|-row signature frame —
    deliberately tiny; the plan-invariant allowlist documents the
    nested-loop there.
    """
    grams = docs.select(
        F.col(source_col).alias("src"),
        F.explode(_distinct_ngrams(F.col(text_col), n)).alias("ng"),
    ).distinct()
    base = F.conv(F.substring(F.md5("ng"), 1, 8), 16, 10).cast("long")
    withx = grams.select("src", (base % _MINHASH_P).alias("x"))
    mins = [
        F.min(
            (_minhash_a(i) * F.col("x") + _minhash_b(i)) % _MINHASH_P
        ).alias(f"h{i}")
        for i in range(k)
    ]
    sig = withx.groupBy("src").agg(*mins)
    a = sig.alias("a")
    b = sig.select(
        F.col("src").alias("src_b"),
        *[F.col(f"h{i}").alias(f"g{i}") for i in range(k)],
    ).alias("b")
    matches = sum(
        (F.col(f"a.h{i}") == F.col(f"b.g{i}")).cast("long")
        for i in range(k)
    )
    return (
        a.join(b, F.col("a.src") < F.col("b.src_b"))
        .select(
            F.col("a.src").alias("source_a"),
            F.col("b.src_b").alias("source_b"),
            matches.alias("matches"),
            F.expr(f"(1000 * ({' + '.join(f'CAST(a.h{i} = b.g{i} AS BIGINT)' for i in range(k))})) div {k}")
            .cast("long")
            .alias("est_jaccard_milli"),
        )
        .orderBy("source_a", "source_b")
    )


def source_minhash_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry: 16-component MinHash source-similarity estimates."""
    docs = read_table(spark, sf_dir, "documents")
    return source_minhash_similarity(docs)


def source_minhash_oracle_sql(n: int = 3, k: int = 16) -> str:
    parts = ", ".join(f"words[i+{j}]" for j in range(n))
    p = _MINHASH_P
    mins = ",\n         ".join(
        f"min(({_minhash_a(i)} * x + {_minhash_b(i)}) % {p}) AS h{i}"
        for i in range(k)
    )
    match_expr = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS BIGINT)" for i in range(k)
    )
    return f"""
WITH w AS (
  SELECT source AS src,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), g AS (
  SELECT DISTINCT src, unnest(
           CASE WHEN len(words) >= {n}
                THEN list_distinct(list_transform(
                       range(1, len(words) - {n - 2}),
                       i -> concat_ws(' ', {parts})))
                ELSE [] END) AS ng
  FROM w
), gx AS (
  SELECT src, ('0x' || substr(md5(ng), 1, 8))::BIGINT % {p} AS x FROM g
), sig AS (
  SELECT src,
         {mins}
  FROM gx GROUP BY src
)
SELECT a.src AS source_a, b.src AS source_b,
       CAST({match_expr} AS BIGINT) AS matches,
       CAST((1000 * ({match_expr})) // {k} AS BIGINT)
         AS est_jaccard_milli
FROM sig a JOIN sig b ON a.src < b.src
ORDER BY source_a, source_b
"""


def distinctive_terms(
    docs: DataFrame,
    n: int = 3,
    top_k: int = 5,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top distinctive n-grams PER SOURCE by an integer log-odds score —
    the "what makes this feed different" curation diagnostic (Monroe et
    al. 2008's log-odds-ratio idea, quantized to the repo's bit-length
    log2 so both engines compute it exactly).

    ``score = ilog2((f_in+1)*(docs_out+1)) - ilog2((f_out+1)*(docs_in+1))``
    where f_in/f_out are the n-gram's document frequencies inside/outside
    the source — positive when the term is over-represented. Ties break
    (score desc, f_in desc, ngram asc): fully deterministic top-k.

    Scale shape: one distinct (doc, source, ngram) reduction, one
    groupBy(ngram, source) + a groupBy(ngram) roll-up for the
    out-counts via window over the ngram partition (|sources|-bounded
    frames), then a per-source rank window over the vocab-sized frame —
    bounded by vocabulary, never by corpus rows.
    """
    from .contamination import _distinct_ngrams

    grams = docs.select(
        F.col(id_col).alias("d"),
        F.col(source_col).alias("src"),
        F.explode(_distinct_ngrams(F.col(text_col), n)).alias("ng"),
    ).distinct()
    per_src = grams.groupBy("ng", "src").agg(
        F.count(F.lit(1)).alias("f_in")
    )
    w_ng = Window.partitionBy("ng")
    docs_per_src = docs.groupBy(F.col(source_col).alias("src")).agg(
        F.count(F.lit(1)).alias("docs_in")
    )
    total_docs = docs.count()  # 1 scalar; scans only the source column
    scored = (
        per_src.withColumn(
            "f_out", F.sum("f_in").over(w_ng) - F.col("f_in")
        )
        .join(F.broadcast(docs_per_src), "src")
        .withColumn("docs_out", F.lit(total_docs) - F.col("docs_in"))
    )

    def ilog2(col):
        return (F.length(F.bin(col)) - 1).cast("long")

    score = ilog2(
        (F.col("f_in") + 1) * (F.col("docs_out") + 1)
    ) - ilog2((F.col("f_out") + 1) * (F.col("docs_in") + 1))
    w_rank = Window.partitionBy("src").orderBy(
        F.desc("score"), F.desc("f_in"), F.asc("ng")
    )
    return (
        scored.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("src").alias("source"),
            "rank",
            F.col("ng").alias("ngram"),
            "f_in",
            "f_out",
            "score",
        )
        .orderBy("source", "rank")
    )


def distinctive_terms_query(spark, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return distinctive_terms(docs)


def distinctive_terms_oracle_sql(n: int = 3, top_k: int = 5) -> str:
    parts = ", ".join(f"words[i+{j}]" for j in range(n))
    return f"""
WITH w AS (
  SELECT doc_id AS d, source AS src,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
), g AS (
  SELECT DISTINCT d, src, unnest(
           CASE WHEN len(words) >= {n}
                THEN list_distinct(list_transform(
                       range(1, len(words) - {n - 2}),
                       i -> concat_ws(' ', {parts})))
                ELSE [] END) AS ng
  FROM w
), per_src AS (
  SELECT ng, src, CAST(count(*) AS BIGINT) AS f_in FROM g GROUP BY 1, 2
), tot AS (
  SELECT source AS src, CAST(count(*) AS BIGINT) AS docs_in
  FROM documents GROUP BY source
), alltot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
scored AS (
  SELECT p.ng, p.src, p.f_in,
         CAST(sum(p.f_in) OVER (PARTITION BY p.ng) - p.f_in AS BIGINT)
           AS f_out,
         t.docs_in,
         a.total - t.docs_in AS docs_out
  FROM per_src p JOIN tot t ON t.src = p.src CROSS JOIN alltot a
), ranked AS (
  SELECT src AS source, ng AS ngram, f_in, f_out,
         CAST((length(bin((f_in + 1) * (docs_out + 1))) - 1)
            - (length(bin((f_out + 1) * (docs_in + 1))) - 1) AS BIGINT)
           AS score,
         CAST(row_number() OVER (
           PARTITION BY src
           ORDER BY (length(bin((f_in + 1) * (docs_out + 1))) - 1)
                  - (length(bin((f_out + 1) * (docs_in + 1))) - 1) DESC,
                    f_in DESC, ng ASC) AS INT) AS rank
  FROM scored
)
SELECT source, rank, ngram, f_in, f_out, score
FROM ranked WHERE rank <= {int(top_k)}
ORDER BY source, rank
"""
