"""Content-defined chunking (CDC) — variable-size chunk boundaries cut
where a rolling content hash satisfies a modulus condition, so an edit
anywhere in a document only re-chunks its neighborhood instead of
shifting every downstream fixed-size chunk (the Rabin/LBFS idea,
Muthitacharoen et al. 2001; FastCDC, Xia et al. 2016). For training-data
pipelines CDC is the chunk-level dedup primitive: boilerplate shared
*within otherwise distinct pages* lands in identical chunks with
identical fingerprints, which fixed windows (``chunk_documents``) and
whole-doc hashes (``dedup_exact``) both miss.

Word-level variant: under the repo-wide normalization, a boundary falls
AFTER word i when the trigram rolling hash

    h_i = md5_hash64(w_{i-2} || ' ' || w_{i-1} || ' ' || w_i)

satisfies ``h_i % divisor == 0`` (expected chunk length = ``divisor``
words; positions 1-2 have no trigram and never cut — the FastCDC
min-size effect). The hash is the engine-portable md5-prefix int64, so
boundaries, chunk texts, and fingerprints are bit-identical in DuckDB.

Scale shape (100 TB):

- tokenize + rolling trigram hash: per-doc windows partitioned by
  ``doc_id`` — millions of small balanced partitions, never a global
  sort (same shape as ``winnowing_fingerprints``);
- chunk assembly: one ``groupBy(doc_id, chunk_id)`` with an in-group
  sort of (pos, word) structs — group size is bounded by the document,
  and the sort is the map-side ``sort_array``, not a shuffle sort;
- cross-doc duplicate detection: one ``groupBy(fingerprint)`` over the
  chunk table (corpus-size / expected-chunk-words rows), map-side
  combinable; the duplicate set joins back via broadcast when small or
  hash-join otherwise — Spark/AQE decides from stats.

No counterpart in the reference repo (dedup extension surface,
alongside ``dedup_exact`` / ``dup_spans`` / ``winnowing_fingerprints``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import _md5_hash64, _norm_text
from ..sources.tables import read_table


def cdc_chunks(
    docs: DataFrame,
    divisor: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk table ``(doc_id, chunk_id, n_words, fingerprint)`` — one row
    per content-defined chunk, fingerprint = md5 of the chunk's
    space-joined words."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(_norm_text(F.col(text_col)), " ")).alias(
            "pos", "w"
        ),
    ).filter(F.col("w") != "")
    # re-number positions after the empty-token filter so both engines
    # agree on ordinals (1-based)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    seq = words.select(
        "doc_id", F.row_number().over(w_doc).alias("ord"), "w"
    )
    w_ord = Window.partitionBy("doc_id").orderBy("ord")
    tri = seq.select(
        "doc_id",
        "ord",
        "w",
        _md5_hash64(
            F.concat_ws(
                " ", F.lag("w", 2).over(w_ord), F.lag("w", 1).over(w_ord), F.col("w")
            )
        ).alias("h"),
        (F.lag("w", 2).over(w_ord).isNotNull()).alias("has_tri"),
    )
    cut = tri.select(
        "doc_id",
        "ord",
        "w",
        (
            F.col("has_tri") & (F.col("h") % F.lit(divisor) == 0)
        ).cast("int").alias("is_cut"),
    )
    # chunk_id = number of cuts STRICTLY BEFORE this word (a cut ends the
    # chunk containing it): exclusive running sum per doc
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = cut.select(
        "doc_id",
        "ord",
        "w",
        F.coalesce(F.sum("is_cut").over(w_prev), F.lit(0)).alias("chunk_id"),
    )
    return (
        assigned.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ord", "w"))
                        ),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("fingerprint"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def cdc_dedup_report(
    docs: DataFrame, divisor: int = 16
) -> DataFrame:
    """Per-document CDC dedup audit: ``(doc_id, n_chunks, n_words,
    dup_chunks)`` where ``dup_chunks`` counts this document's chunks
    whose fingerprint also occurs in at least one OTHER document —
    the chunk-level boilerplate signal."""
    chunks = cdc_chunks(docs, divisor=divisor)
    docs_per_fp = chunks.groupBy("fingerprint").agg(
        F.countDistinct("doc_id").alias("fp_docs")
    )
    return (
        chunks.join(docs_per_fp, "fingerprint")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_words").alias("n_words"),
            F.sum((F.col("fp_docs") > 1).cast("long")).alias("dup_chunks"),
        )
        .orderBy("doc_id")
    )


def cdc_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_dedup_report(
        read_table(spark, sf_dir, "documents")
    )


def cdc_oracle_sql(divisor: int = 16) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(ws, 1) AS pos,
         unnest(ws) AS w
  FROM (
    SELECT doc_id,
           string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS ws
    FROM documents
  )
), seq AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord
  FROM toks WHERE w <> ''
), tri AS (
  SELECT doc_id, ord, w,
         lag(w, 2) OVER win AS w2, lag(w, 1) OVER win AS w1
  FROM seq
  WINDOW win AS (PARTITION BY doc_id ORDER BY ord)
), cut AS (
  SELECT doc_id, ord, w,
         CASE WHEN w2 IS NOT NULL AND
                   ('0x' || substr(md5(w2 || ' ' || w1 || ' ' || w), 1, 15))::BIGINT
                   % {divisor} = 0
              THEN 1 ELSE 0 END AS is_cut
  FROM tri
), assigned AS (
  SELECT doc_id, ord, w,
         COALESCE(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM cut
), chunks AS (
  SELECT doc_id, chunk_id,
         count(*) AS n_words,
         md5(string_agg(w, ' ' ORDER BY ord)) AS fingerprint
  FROM assigned GROUP BY doc_id, chunk_id
), fp AS (
  SELECT fingerprint, count(DISTINCT doc_id) AS fp_docs
  FROM chunks GROUP BY fingerprint
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(c.n_words) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN fp.fp_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_chunks
FROM chunks c JOIN fp USING (fingerprint)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""
