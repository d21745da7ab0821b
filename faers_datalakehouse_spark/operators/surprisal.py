"""Corpus-statistics language-model scoring (CCNet-style quality signal).

A classic training-data curation stage (Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", 2020) scores each
document by its per-token perplexity under a language model and drops the
tails: very HIGH surprisal ≈ noise/garble, very LOW surprisal ≈ boilerplate
that repeats the corpus's most common tokens.

This operator is the unigram self-scored variant, made **integer-exact** so
the DuckDB oracle hash-matches: instead of float ``log`` (whose libm
rounding differs across engines), token surprisal is the bit-length
approximation

    surprisal_bits(w) = floor(log2(N)) - floor(log2(count(w)))
                      = (length(bin(N)) - 1) - (length(bin(count(w))) - 1)

an integer within 1 bit of ``log2(N / count(w))``. A document's score is
``sum(bits) / n_tokens`` — one IEEE double division over exact integers
(the repo-wide cross-engine float rule, see plans/analytics.py).

Scale layout (100 TB corpus):

- tokenization is a map-side ``explode`` (no shuffle);
- the unigram model is one ``groupBy(word)`` with map-side partial
  aggregation — output is vocabulary-sized, orders of magnitude smaller
  than the corpus;
- the model joins back to the token stream via **broadcast** (a natural-
  language vocabulary is millions of rows at web scale — megabytes), so
  the only other shuffle is the per-doc score aggregation on ``doc_id``;
- total tokens N rides along as a column of the broadcast frame (no
  driver round-trip, no scalar subquery in the hot path).

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _norm_text


def corpus_tokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, word) token stream under the repo-wide normalization (lowercase,
    non-alphanumerics to space, collapsed whitespace)."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(_norm_text(F.col(text_col)), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )


def unigram_model(tokens: DataFrame) -> DataFrame:
    """(word, n, total_n): corpus unigram counts plus the corpus total as a
    column — computed with one window-free cross-broadcast of the 1-row
    total onto the vocabulary frame."""
    counts = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    total = tokens.agg(F.count(F.lit(1)).alias("total_n"))
    return counts.crossJoin(F.broadcast(total))


def surprisal_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: DataFrame | None = None,
) -> DataFrame:
    """Per-document integer-exact unigram surprisal:
    ``(doc_id, n_tokens, sum_bits, avg_surprisal_bits)``.

    ``model`` defaults to self-scoring (the corpus's own unigram counts);
    pass a frame from :func:`unigram_model` over a reference corpus to
    score against external statistics (words absent from the model are
    dropped from the score, mirroring the oracle's inner join).
    """
    toks = corpus_tokens(docs, id_col, text_col)
    if model is None:
        model = unigram_model(toks)
    # floor(log2(x)) == length(bin(x)) - 1 for x >= 1, exactly, in both
    # engines (bin() renders the minimal binary string of a positive int)
    bits = (F.length(F.bin("total_n")) - 1) - (F.length(F.bin("n")) - 1)
    return (
        toks.join(F.broadcast(model), "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(bits.cast("long")).alias("sum_bits"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "sum_bits",
            (
                F.col("sum_bits").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("avg_surprisal_bits"),
        )
        .orderBy(id_col)
    )


def surprisal_oracle_sql() -> str:
    """DuckDB twin of ``surprisal_scores`` (self-scored). Identical
    normalization, identical bin()-length surprisal integers, identical
    final IEEE division."""
    return """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE word <> ''),
model AS (SELECT word, count(*) AS n FROM toks2 GROUP BY word),
tot AS (SELECT count(*) AS total_n FROM toks2),
scored AS (
  SELECT t.id,
         count(*) AS n_tokens,
         sum((length(bin(tot.total_n)) - 1) - (length(bin(m.n)) - 1)) AS sum_bits
  FROM toks2 t JOIN model m USING (word) CROSS JOIN tot
  GROUP BY t.id
)
SELECT id AS doc_id,
       n_tokens,
       CAST(sum_bits AS BIGINT) AS sum_bits,
       CAST(sum_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         AS avg_surprisal_bits
FROM scored
ORDER BY doc_id
"""


def corpus_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2) adjacent-token bigram stream under the repo-wide
    normalization — built by zipping the token array with itself shifted
    one position (a flatMap; no shuffle, no self-join)."""
    toks = F.split(_norm_text(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        docs.filter(n >= 2)
        .filter(F.element_at(toks, 1) != "")
        .select(F.col(id_col).alias("id"), F.explode(pairs).alias("bg"))
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def bigram_surprisal_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document integer-exact BIGRAM surprisal — the conditional
    upgrade of :func:`surprisal_scores`:

        bits(w1 w2) = floor(log2(count(w1*))) - floor(log2(count(w1 w2)))
                    ≈ -log2( P(w2 | w1) )

    where ``count(w1*)`` is w1's count as a bigram PREFIX (so the
    conditional is properly normalized over the same event space).
    Returns ``(doc_id, n_bigrams, sum_bits, avg_surprisal_bits)``.

    Scale: the bigram model is a groupBy over the bigram stream (vocab²-
    bounded but realistically corpus-vocabulary-sized × small constant);
    it joins back by (w1, w2) hash shuffle — NOT broadcast, since web-scale
    bigram tables outgrow broadcast budgets; the prefix counts derive from
    the same model frame by a second tiny aggregation.
    """
    from .parallelism import ensure_compute_parallelism

    # the regex-normalize + zip_with tokenization is the dominant map
    # stage and runs once for the model and once for the join-back; the
    # guard unblocks single-file layouts (1 task otherwise) and persist
    # makes the second consumer read the materialized bigram stream
    # instead of re-tokenizing the corpus
    bgs = corpus_bigrams(
        ensure_compute_parallelism(docs), id_col, text_col
    ).persist()
    model = bgs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    prefix = model.groupBy("w1").agg(F.sum("n2").alias("n1"))
    bits = (F.length(F.bin("n1")) - 1) - (F.length(F.bin("n2")) - 1)
    return (
        bgs.join(model, ["w1", "w2"])
        # plain hash join, NOT broadcast: prefix is the full unigram
        # vocabulary — unbounded at web scale, the same reason the model
        # join above refuses to broadcast; the w1 shuffle rides the
        # exchange already being paid
        .join(prefix, "w1")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits.cast("long")).alias("sum_bits"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            "sum_bits",
            (
                F.col("sum_bits").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("avg_surprisal_bits"),
        )
        .orderBy(id_col)
    )


def bigram_surprisal_oracle_sql() -> str:
    """DuckDB twin of ``bigram_surprisal_scores``."""
    return """
WITH toks AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
bgs AS (
  SELECT id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2 AND t[1] <> ''
),
model AS (SELECT w1, w2, count(*) AS n2 FROM bgs GROUP BY w1, w2),
prefix AS (SELECT w1, sum(n2) AS n1 FROM model GROUP BY w1),
scored AS (
  SELECT b.id,
         count(*) AS n_bigrams,
         sum((length(bin(p.n1)) - 1) - (length(bin(m.n2)) - 1)) AS sum_bits
  FROM bgs b JOIN model m USING (w1, w2) JOIN prefix p USING (w1)
  GROUP BY b.id
)
SELECT id AS doc_id,
       n_bigrams,
       CAST(sum_bits AS BIGINT) AS sum_bits,
       CAST(sum_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         AS avg_surprisal_bits
FROM scored
ORDER BY doc_id
"""
