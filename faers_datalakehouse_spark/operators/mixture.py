"""Temperature-scaled source sampling — the multilingual/multi-source
mixing rule from XLM-R (Conneau et al. 2020) and mT5/mC4 (Xue et al.
2021): sample source s with probability proportional to ``n_s^alpha``
(alpha < 1 upsamples small sources, downsamples dominant ones) instead
of the natural proportion ``n_s / N`` that lets one crawl swamp the
token budget. This operator emits the alpha=0.5 mixing table: target
probability, natural probability, and the implied up/down-sampling
factor per source.

Integer-exact cross-engine: ``n^0.5`` is ``floor(sqrt(n))`` — IEEE-754
``sqrt`` is correctly rounded, and token counts are exact doubles below
2^53, so Spark and DuckDB compute the identical integer weight (unlike
``pow(n, alpha)`` for general alpha, which goes through libm ``exp/log``
and differs in the last ulp across engines). Probabilities are integer
ppm divisions over exact integers.

Scale shape (100 TB): one map-side tokenize + one ``groupBy(source)``
count (map-side combinable, |sources| output rows); the weight
normalization is a window over those |sources| rows — never the corpus.
The emitted table is the broadcast-side input a sampler joins against
(cf. ``proportional_split`` / ``priority_sample`` for the row-level
draw).

No counterpart in the reference repo (LLM-pipeline extension surface,
alongside ``dsir_weights`` which reweights by target-domain n-gram
likelihood rather than by size temperature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .surprisal import corpus_tokens
from ..sources.tables import read_table


def temperature_mix(docs: DataFrame) -> DataFrame:
    """``(source, n_tokens, weight, p_ppm, natural_ppm, boost_milli)``
    per source, alpha = 0.5, ordered by source.

    ``boost_milli = 1000 * p_ppm div natural_ppm`` — >1000 means the
    temperature upsamples the source relative to its natural share.
    """
    toks = corpus_tokens(docs, "source", "text").select(
        F.col("id").alias("source")
    )
    counts = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    weight = F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    w_all = Window.partitionBy()
    scored = counts.select(
        "source",
        "n_tokens",
        weight.alias("weight"),
        F.sum(weight).over(w_all).alias("_wsum"),
        F.sum("n_tokens").over(w_all).alias("_nsum"),
    )
    return (
        scored.select(
            "source",
            "n_tokens",
            "weight",
            # ppm numerators are token-count x 1e6 — a ~10T-token
            # source overflows int64, so the numerator runs in decimal
            # (HUGEINT in the twin); the ppm result is BIGINT by range
            F.expr(
                "CAST((CAST(weight AS DECIMAL(38,0)) * 1000000)"
                " div _wsum AS BIGINT)"
            ).alias("p_ppm"),
            F.expr(
                "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000)"
                " div _nsum AS BIGINT)"
            ).alias("natural_ppm"),
        )
        .withColumn(
            "boost_milli", F.expr("(p_ppm * 1000) div natural_ppm")
        )
        .orderBy("source")
    )


def temperature_mix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mix(
        read_table(spark, sf_dir, "documents")
    )


TEMPERATURE_MIX_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks WHERE word <> '' GROUP BY source
),
weighted AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
  FROM counts
),
scored AS (
  SELECT source, n_tokens, weight,
         CAST(sum(weight) OVER () AS BIGINT) AS wsum,
         CAST(sum(n_tokens) OVER () AS BIGINT) AS nsum
  FROM weighted
)
SELECT source, n_tokens, weight,
       CAST((CAST(weight AS HUGEINT) * 1000000) // wsum AS BIGINT)
         AS p_ppm,
       CAST((CAST(n_tokens AS HUGEINT) * 1000000) // nsum AS BIGINT)
         AS natural_ppm,
       (CAST((CAST(weight AS HUGEINT) * 1000000) // wsum AS BIGINT)
          * 1000)
         // CAST((CAST(n_tokens AS HUGEINT) * 1000000) // nsum
                 AS BIGINT) AS boost_milli
FROM scored
ORDER BY source
"""
