"""Exact heavy hitters via Misra-Gries candidates + exact verification —
the two-pass "approximate candidates, exact verify" pattern that finds
every token with frequency > n/k WITHOUT a vocabulary-sized shuffle
(Misra & Gries 1982; the merged-summary guarantee is Agarwal et al.
2013, "Mergeable Summaries").

Why two passes beat one ``groupBy(word)`` at 100 TB: a web-scale corpus
has billions of distinct tokens, so the exact groupBy shuffles a
vocabulary-sized intermediate to find what is usually a FEW HUNDRED
frequent items. Here:

- **Pass 1 (map-side only, no shuffle):** each partition folds its
  token stream through a capacity-``k`` Misra-Gries sketch inside a
  stateful Arrow ``mapInPandas`` kernel (state carried across batches
  within the partition; per batch one vectorized ``value_counts``).
  MG's guarantee: an item undercounts by at most p/(k+1) of the
  partition's p tokens, so every item with partition count > p/(k+1)
  survives. By pigeonhole, any item with GLOBAL count > n/(k+1) beats
  that bound in at least one partition — the union of per-partition
  candidates (<= k * n_partitions rows, KBs) is a guaranteed superset
  of the true heavy hitters.
- **Pass 2 (exact):** broadcast the candidate set, semi-join the token
  stream against it (scan-side filter — only candidate tokens survive
  to the shuffle), take exact counts, and keep ``count * k > n``.
  The threshold n rides along in-plan as a 1-row broadcast aggregate
  (no eager count at construction — the ks_drift lesson, ADVICE r8).

The OUTPUT is deterministic and exact even though the candidate set
depends on partition layout: pass 2 counts exactly, the threshold is
exact, and the superset property guarantees nothing qualifying was
lost. The DuckDB twin is the plain GROUP BY ... HAVING count*k > n.

No counterpart in the reference repo (frequency-sketch extension
surface, alongside ``cms_counts`` which answers point queries and this
which enumerates the frequent set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .surprisal import corpus_tokens
from ..sources.tables import read_table


def _mg_kernel(cap: int):
    def kernel(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > cap:
                # batch MG decrement: subtract the (len-cap)-th smallest
                # count from everyone and drop the non-positives — one
                # uniform decrement of d applied to > cap counters
                # consumes > d*cap token credits, so any item's total
                # decrement is < n_partition/(cap+1), the MG bound
                vals = sorted(counters.values())
                d = vals[len(counters) - cap - 1]
                counters = {
                    w: c - d for w, c in counters.items() if c - d > 0
                }
        yield pd.DataFrame({"word": list(counters.keys())})

    return kernel


def heavy_hitters(
    docs: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All tokens with frequency strictly greater than n_tokens/k:
    ``(word, cnt, n_tokens)``, ordered by (cnt desc, word). Exact."""
    toks = corpus_tokens(docs, id_col, text_col)
    cands = (
        toks.select("word")
        .mapInPandas(_mg_kernel(k), schema="word string")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    exact = (
        toks.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
    )
    return (
        exact.where(F.col("cnt") * F.lit(k) > F.col("n_tokens"))
        .select("word", "cnt", "n_tokens")
        .orderBy(F.desc("cnt"), "word")
    )


def heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters(
        read_table(spark, sf_dir, "documents"), k=50
    )


def heavy_hitters_oracle_sql(k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
),
toks2 AS (SELECT word FROM toks WHERE word <> ''),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks2),
counts AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM toks2 GROUP BY word
)
SELECT c.word, c.cnt, t.n_tokens
FROM counts c CROSS JOIN tot t
WHERE c.cnt * {k} > t.n_tokens
ORDER BY c.cnt DESC, c.word
"""
