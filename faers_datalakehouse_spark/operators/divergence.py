"""Cross-source corpus divergence diagnostics — the pairwise
cross-entropy matrix (which sources are interchangeable, which are
drifted?) and the per-source Zipf rank-frequency slope (is a source's
vocabulary distribution natural-language-shaped, or template/spam
shaped?). Both are standard multi-source curation signals when
balancing a training mixture, complementing ``source_entropy``
(within-source diversity), ``source_overlap`` (set containment) and
``distinctive_terms`` (per-source keywords).

Integer-exact cross-engine (the bit-length idiom —
``operators/surprisal.py``):

- ``source_xentropy``: H(A; B) = cross-entropy of source A's unigram
  stream under source B's add-1-smoothed unigram LM, in bits:
  ``sum_w c_A(w) * (bits(n_B + V) - bits(c_B(w) + 1)) / n_A``. Words
  absent from B contribute ``bits(c_B+1) = bits(1) = 0``, so the sum
  decomposes as ``n_A * bits(n_B + V) - sum_{w in A∩B} c_A(w) *
  bits(c_B(w) + 1)`` — ONLY the inner join on shared words is ever
  materialized; the out-of-vocabulary mass rides the per-source totals.
- ``zipf_slope``: OLS slope of ``bits(freq)`` against ``bits(rank)``
  per source (natural text sits near -1 per Zipf's law; boilerplate
  floods flatten it, id/hash floods steepen it). Ranks come from the
  two-phase bucketed scan (``bucketed_global_rank``) — no per-source
  global window. Cross products are n²-scaled and run in DECIMAL(38,0)
  (HUGEINT in the twin) per the r10 overflow-audit rule.

Scale shape (100 TB): tokenize map-side; ``groupBy(source, word)``
collapses to per-source vocabularies (map-side combinable); the
xentropy pair term is one vocab-keyed equi-join whose output is
|shared vocab| x |source pairs| with the small per-source totals frame
broadcast; zipf is one bucketed rank pass + one aggregate.

No counterpart in the reference repo (text-curation extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.entropy import _bits
from faers_datalakehouse_spark.operators.normalize import (
    bucketed_global_rank,
)
from faers_datalakehouse_spark.operators.surprisal import corpus_tokens
from faers_datalakehouse_spark.sources.tables import read_table


def _source_counts(docs: DataFrame) -> DataFrame:
    """(source, word, c) unigram counts keyed by source."""
    toks = corpus_tokens(docs, "source", "text").select(
        F.col("id").alias("source"), "word"
    )
    return toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )


def source_xentropy(docs: DataFrame) -> DataFrame:
    """``(src_a, src_b, n_tokens_a, shared_types, xent_bits_num,
    xent_milli_bits)`` for every ORDERED pair of distinct sources,
    ordered by (src_a, src_b). ``xent_milli_bits = 1000 *
    xent_bits_num div n_tokens_a`` — low means B's language models A
    well (interchangeable sources), high means drift."""
    counts = _source_counts(docs)
    vocab = counts.agg(
        F.count_distinct("word").cast("long").alias("_v")
    )
    totals = (
        counts.groupBy("source")
        .agg(F.sum("c").cast("long").alias("n_tokens"))
        .crossJoin(F.broadcast(vocab))
    )
    pairs = (
        totals.select(
            F.col("source").alias("src_a"),
            F.col("n_tokens").alias("n_a"),
        )
        .join(
            F.broadcast(
                totals.select(
                    F.col("source").alias("src_b"),
                    F.col("n_tokens").alias("n_b"),
                    "_v",
                )
            ),
            F.col("src_a") != F.col("src_b"),
        )
    )
    # shared-word term: one vocab-keyed equi-join of the count frame
    # with itself; c_a * bits(c_b + 1) is <= 63 * n — no product class
    shared = (
        counts.select(
            F.col("source").alias("src_a"),
            "word",
            F.col("c").alias("_ca"),
        )
        .join(
            counts.select(
                F.col("source").alias("src_b"),
                "word",
                F.col("c").alias("_cb"),
            ),
            "word",
        )
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_types"),
            F.sum(F.col("_ca") * _bits(F.col("_cb") + 1))
            .cast("long")
            .alias("_shared_bits"),
        )
    )
    return (
        pairs.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("n_a").alias("n_tokens_a"),
            F.coalesce("shared_types", F.lit(0)).alias("shared_types"),
            (
                F.col("n_a") * _bits(F.col("n_b") + F.col("_v"))
                - F.coalesce("_shared_bits", F.lit(0))
            )
            .cast("long")
            .alias("xent_bits_num"),
        )
        .withColumn(
            "xent_milli_bits",
            F.expr("(1000 * xent_bits_num) div n_tokens_a"),
        )
        .orderBy("src_a", "src_b")
    )


def source_xentropy_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return source_xentropy(
        read_table(spark, sf_dir, "documents")
    )


SOURCE_XENTROPY_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE word <> ''),
counts AS (
  SELECT source, word, count(*) AS c
  FROM toks2 GROUP BY source, word
),
vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM counts),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
  FROM counts GROUP BY source
),
pairs AS (
  SELECT a.source AS src_a, a.n_tokens AS n_a,
         b.source AS src_b, b.n_tokens AS n_b, v
  FROM totals a JOIN totals b ON a.source <> b.source
  CROSS JOIN vocab
),
shared AS (
  SELECT ca.source AS src_a, cb.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared_types,
         CAST(sum(ca.c * (length(bin(cb.c + 1)) - 1)) AS BIGINT)
           AS shared_bits
  FROM counts ca JOIN counts cb
    ON ca.word = cb.word AND ca.source <> cb.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
       n_a AS n_tokens_a,
       COALESCE(shared_types, 0) AS shared_types,
       CAST(n_a * (length(bin(n_b + v)) - 1)
            - COALESCE(shared_bits, 0) AS BIGINT) AS xent_bits_num,
       (1000 * CAST(n_a * (length(bin(n_b + v)) - 1)
                    - COALESCE(shared_bits, 0) AS BIGINT)) // n_a
         AS xent_milli_bits
FROM pairs p LEFT JOIN shared s
  ON p.src_a = s.src_a AND p.src_b = s.src_b
ORDER BY p.src_a, p.src_b
"""


def zipf_slope(docs: DataFrame) -> DataFrame:
    """``(source, n_types, n_tokens, slope_milli)`` per source —
    the OLS slope of bits(freq) on bits(rank) over the source's
    rank-frequency curve (milli units; ~-1000 for natural text).
    NULL when every word has the same bits(rank) (degenerate)."""
    counts = _source_counts(docs)
    ranked = bucketed_global_rank(
        counts.withColumn("_negc", -F.col("c")), "source", "_negc", "word"
    )
    pts = ranked.select(
        "source",
        _bits(F.col("rnk")).alias("x"),
        _bits(F.col("c")).alias("y"),
        "c",
    )
    m = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # n²-scaled cross products -> decimal (overflow-audit rule)
    nd = m["n"].cast("decimal(38,0)")
    num = nd * m["sxy"] - m["sx"].cast("decimal(38,0)") * m["sy"]
    den = nd * m["sxx"] - m["sx"].cast("decimal(38,0)") * m["sx"]
    return m.select(
        "source",
        F.col("n").cast("long").alias("n_types"),
        "n_tokens",
        F.when(
            den > 0,
            F.floor(
                num.cast("double") * 1000.0 / den.cast("double")
            ).cast("long"),
        ).alias("slope_milli"),
    ).orderBy("source")


def zipf_slope_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_slope(read_table(spark, sf_dir, "documents"))


ZIPF_SLOPE_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE word <> ''),
counts AS (
  SELECT source, word, count(*) AS c
  FROM toks2 GROUP BY source, word
),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY -c, word) AS rnk
  FROM counts
),
pts AS (
  SELECT source,
         CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
         CAST(length(bin(c)) - 1 AS BIGINT) AS y,
         c
  FROM ranked
),
m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*y) AS BIGINT) AS sxy,
         CAST(sum(x*x) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
)
SELECT source, n AS n_types, n_tokens,
       CASE WHEN CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx > 0
       THEN CAST(floor(
           CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy
                AS DOUBLE) * 1000.0
           / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx
                  AS DOUBLE)) AS BIGINT) END AS slope_milli
FROM m
ORDER BY source
"""


def cond_entropy_rate(docs: DataFrame) -> DataFrame:
    """``(source, n_bigrams, h2_bits_num, h2_milli_bits)`` per source —
    the bigram CONDITIONAL entropy H(w2 | w1) in the bit-length
    approximation: ``sum_{w1,w2} c12 * (bits(c1) - bits(c12))`` over
    the source's adjacent-bigram counts, divided by the bigram count.

    The order-sensitive companion to ``source_entropy``'s unigram H:
    a source whose unigram entropy is healthy but whose conditional
    entropy collapses is TEMPLATE text (diverse words, deterministic
    transitions) — the signature n-gram novelty sees per document,
    measured here per source in closed form. Bit-length args are plain
    counts; no product class.

    Scale shape: one bigram groupBy per source (map-side combinable,
    vocab²-bounded output), a prefix aggregate OF that frame, one
    equi-join back on (source, w1).
    """
    from faers_datalakehouse_spark.operators.surprisal import (
        corpus_bigrams,
    )

    bgs = corpus_bigrams(docs, "source", "text").select(
        F.col("id").alias("source"), "w1", "w2"
    )
    c12 = bgs.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("_c12")
    )
    c1 = c12.groupBy("source", "w1").agg(F.sum("_c12").alias("_c1"))
    return (
        c12.join(c1, ["source", "w1"])
        .groupBy("source")
        .agg(
            F.sum("_c12").cast("long").alias("n_bigrams"),
            F.sum(
                F.col("_c12") * (_bits(F.col("_c1")) - _bits(F.col("_c12")))
            )
            .cast("long")
            .alias("h2_bits_num"),
        )
        .withColumn(
            "h2_milli_bits",
            F.expr("(1000 * h2_bits_num) div n_bigrams"),
        )
        .orderBy("source")
    )


def cond_entropy_rate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cond_entropy_rate(
        read_table(spark, sf_dir, "documents")
    )


COND_ENTROPY_RATE_SQL = """
WITH toks AS (
  SELECT source,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
bg AS (
  SELECT source, ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, unnest(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2 AND ws[1] <> ''
),
c12 AS (
  SELECT source, w1, w2, count(*) AS c12
  FROM bg GROUP BY 1, 2, 3
),
c1 AS (
  SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM c12 GROUP BY 1, 2
)
SELECT c12.source,
       CAST(sum(c12) AS BIGINT) AS n_bigrams,
       CAST(sum(c12 * ((length(bin(c1)) - 1)
                       - (length(bin(c12)) - 1))) AS BIGINT)
         AS h2_bits_num,
       (1000 * CAST(sum(c12 * ((length(bin(c1)) - 1)
                               - (length(bin(c12)) - 1))) AS BIGINT))
         // CAST(sum(c12) AS BIGINT) AS h2_milli_bits
FROM c12 JOIN c1 ON c12.source = c1.source AND c12.w1 = c1.w1
GROUP BY c12.source
ORDER BY c12.source
"""
