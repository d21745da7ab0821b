"""Per-document keyword extraction — the top-k TF-IDF terms of every
document, the standard unsupervised tagging/indexing primitive (Salton &
Buckley 1988) and the per-document complement of the per-source
``distinctive_terms`` entry.

Integer-exact cross-engine: term weight is ``tf · idf_bits`` with the
repo's +1-free bit-length idf (``length(bin(n_docs div df))`` — DuckDB
``length(bin(...))`` is the same function), stop-wordy terms are dropped
by a document-frequency percentage cap BEFORE scoring, and ties break on
the term string.

Scale shape (100 TB): tokenize (map-side) → (doc, term) tf groupBy →
df groupBy on the vocabulary frame → one equi-join back on term (the
vocabulary side is the small one after the df cap; n_docs rides along
as a 1-row broadcast, never an eager count) → per-doc top-k window
(partition = one document — millions of small partitions, the GOOD
window shape).

No counterpart in the reference repo (text-analysis extension surface,
alongside ``distinctive_terms`` / ``bm25_topk`` / ``allpairs_tfidf``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .surprisal import corpus_tokens
from ..sources.tables import read_table


def doc_keywords(
    docs: DataFrame,
    k: int = 3,
    max_df_pct: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, rk, word, tf, idf_bits, score)`` — each document's
    top-``k`` terms by ``tf · idf_bits`` among terms appearing in at
    most ``max_df_pct`` percent of documents; ordered by (doc_id, rk)."""
    toks = corpus_tokens(docs, id_col, text_col)
    tf = toks.groupBy("id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") * 100 <= F.col("n_docs") * max_df_pct)
        .select(
            "id",
            "word",
            "tf",
            F.length(F.bin(F.expr("n_docs div df"))).cast("long").alias(
                "idf_bits"
            ),
        )
        .withColumn("score", (F.col("tf") * F.col("idf_bits")).cast("long"))
    )
    rk = F.row_number().over(
        Window.partitionBy("id").orderBy(
            F.desc("score"), F.asc("word")
        )
    )
    return (
        w.withColumn("rk", rk.cast("long"))
        .where(F.col("rk") <= k)
        .select(F.col("id").alias("doc_id"), "rk", "word", "tf", "idf_bits", "score")
        .orderBy("doc_id", "rk")
    )


def doc_keywords_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_keywords(
        read_table(spark, sf_dir, "documents"), k=3, max_df_pct=80
    )


def doc_keywords_oracle_sql(k: int = 3, max_df_pct: int = 30) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
toks2 AS (SELECT id, word FROM toks WHERE word <> ''),
tf AS (SELECT id, word, count(*) AS tf FROM toks2 GROUP BY id, word),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(DISTINCT id) AS n_docs FROM tf),
w AS (
  SELECT tf.id, tf.word, tf.tf,
         length(bin(nd.n_docs // dfreq.df)) AS idf_bits,
         tf.tf * length(bin(nd.n_docs // dfreq.df)) AS score
  FROM tf JOIN dfreq USING (word) CROSS JOIN nd
  WHERE dfreq.df * 100 <= nd.n_docs * {max_df_pct}
)
SELECT id AS doc_id,
       CAST(rk AS BIGINT) AS rk,
       word,
       CAST(tf AS BIGINT) AS tf,
       CAST(idf_bits AS BIGINT) AS idf_bits,
       CAST(score AS BIGINT) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, word ASC) AS rk
  FROM w
)
WHERE rk <= {k}
ORDER BY doc_id, rk
"""
