"""Flesch-Kincaid-style readability per source — the classic
grade-level formula over deterministic ASCII counting rules, the
reading-difficulty axis a corpus-quality dashboard shows next to
``text_quality``'s ratio screens and ``zipf_slope``'s vocabulary shape.

Counting rules (identical ASCII-class regexes in Java and RE2 — the
``pii_density`` precedent):

- words      = matches of ``[A-Za-z]+``
- sentences  = matches of ``[.!?]+`` per doc, clamped to ≥ 1
- syllables  = vowel GROUPS ``[aeiouy]+`` in the lowercased text, plus
  1 for every vowel-less word (``\\b[bcdfghjklmnpqrstvwxz]+\\b``) —
  the standard cheap syllable proxy, every word ≥ 1 syllable

Docs with zero words are excluded (the formula is undefined on them).
The grade is computed from the per-source TOTALS (a length-weighted
corpus grade, not a mean of per-doc grades):

    FK = 0.39·(words/sentences) + 11.8·(syllables/words) - 15.59

Exactness: all counts are exact BIGINTs; ``fk_milli`` is one floored
IEEE expression over them. Scale shape (100 TB): one map-side regex
scan + a |sources| rollup — no shuffle beyond the final aggregate.

No counterpart in the reference repo (text-analysis extension surface,
alongside ``text_quality`` / ``lang_id`` / ``token_count``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table

_WORD_RE = "[A-Za-z]+"
_SENT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"
_NOVOWEL_RE = r"\b[bcdfghjklmnpqrstvwxz]+\b"


def readability_fk_by_source(docs: DataFrame) -> DataFrame:
    """``(source, n_docs, words, sentences, syllables, fk_milli)``."""
    t = F.col("text")
    lower = F.lower(t)
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all(t, F.lit(_WORD_RE), F.lit(0))).alias("_w"),
        F.size(F.regexp_extract_all(t, F.lit(_SENT_RE), F.lit(0))).alias("_s"),
        F.size(F.regexp_extract_all(lower, F.lit(_VOWEL_RE), F.lit(0))).alias(
            "_v"
        ),
        F.size(
            F.regexp_extract_all(lower, F.lit(_NOVOWEL_RE), F.lit(0))
        ).alias("_nv"),
    ).where(F.col("_w") > 0)
    g = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_w").cast("long").alias("words"),
        F.sum(F.greatest(F.col("_s"), F.lit(1)))
        .cast("long")
        .alias("sentences"),
        F.sum(F.col("_v") + F.col("_nv")).cast("long").alias(
            "syllables"
        ),
    )
    fk = (
        "0.39 * CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)"
        " + 11.8 * CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)"
        " - 15.59"
    )
    return (
        g.withColumn(
            "fk_milli",
            F.expr(f"CAST(floor(({fk}) * 1000.0) AS BIGINT)"),
        )
        .orderBy("source")
    )


def readability_fk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return readability_fk_by_source(docs)


READABILITY_FK_SQL = rf"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{_WORD_RE}')) AS w,
         len(regexp_extract_all(text, '[.!?]+')) AS s,
         len(regexp_extract_all(lower(text), '{_VOWEL_RE}')) AS v,
         len(regexp_extract_all(lower(text),
             '\b[bcdfghjklmnpqrstvwxz]+\b')) AS nv
  FROM documents
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS words,
         CAST(sum(CASE WHEN s > 1 THEN s ELSE 1 END) AS BIGINT)
           AS sentences,
         CAST(sum(v + nv) AS BIGINT) AS syllables
  FROM per_doc WHERE w > 0 GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       CAST(floor((0.39 * CAST(words AS DOUBLE)
                     / CAST(sentences AS DOUBLE)
                   + 11.8 * CAST(syllables AS DOUBLE)
                     / CAST(words AS DOUBLE)
                   - 15.59) * 1000.0) AS BIGINT) AS fk_milli
FROM g
ORDER BY source
"""
