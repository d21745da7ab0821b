"""Training-corpus preparation queries: vocabulary induction, BPE pair
statistics, sequence packing, and shard manifests.

The steps between "curated corpus" and "tokens on a trainer": build the
tokenizer's vocabulary from corpus term statistics, compute the adjacent-
pair counts that drive BPE merges, pack documents into fixed token-budget
sequences, and emit deterministic shard manifests a dataloader can trust.
All four are pure DataFrame plans — explode → partial-agg → shuffle on the
group key — with exact-integer outputs, so each has a bit-identical DuckDB
twin.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..operators.dedup import _md5_hash64
from ..operators.sampling import _hash_bucket
from ..sources.tables import read_table

TERM_RE = "[a-z0-9]+"


def _terms(text_col: str) -> F.Column:
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TERM_RE), 0)


def vocab_stats_query(
    spark: SparkSession, sf_dir: str, top_n: int = 100
) -> DataFrame:
    """Corpus term statistics — the input to any vocab/tokenizer induction:
    ``(term, n_occurrences, n_docs)``, top ``top_n`` by frequency.

    Scale shape: explode is a per-row flatMap (no shuffle); the groupBy
    partial-aggregates map-side so the exchange carries one row per
    distinct term per task, and top-n is a TakeOrdered (no global sort
    materialization). Ties at the cut are broken lexicographically so the
    result set is deterministic.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_terms("text")).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "term")
        .limit(top_n)
    )


def vocab_stats_oracle_sql(top_n: int = 100) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS term
  FROM documents
)
SELECT term,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tok
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT {top_n}
"""


def bpe_pair_counts_query(
    spark: SparkSession, sf_dir: str, top_n: int = 50
) -> DataFrame:
    """Adjacent character-pair frequencies within words — the statistic the
    BPE training loop maximizes on each merge. ``(pair, n_occurrences)``,
    top ``top_n``, ties broken lexicographically.

    Words shorter than 2 chars are filtered BEFORE the bigram expansion:
    ``F.sequence(1, len-1)`` with ``len=1`` would yield the *descending*
    sequence [1, 0] (Spark's sequence reverses when start > stop), not an
    empty list.
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(_terms("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(top_n)
    )


def bpe_pair_counts_oracle_sql(top_n: int = 50) -> str:
    return f"""
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS w
  FROM documents
),
p AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
  FROM w WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM p
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT {top_n}
"""


def pack_sequences_query(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 512,
    n_shards: int = 4,
) -> DataFrame:
    """Greedy document→sequence packing: concatenate documents in id order
    and cut every ``budget`` tokens; a doc belongs to the pack where its
    first token lands. ``(doc_id, shard_id, n_tokens, start_tok, pack_id)``.

    The running sum is windowed PER SHARD (md5-bucket of doc_id), not
    globally — a global prefix sum is a single-partition scale-killer; the
    sharded layout is how packing actually runs (each dataloader shard
    packs independently), and each shard's window sorts only its slice.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        _hash_bucket(F.col("doc_id"), n_shards).alias("shard_id"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return toks.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        start.alias("start_tok"),
        # start_tok < 2^53 ⇒ the double division is exact; floor ≡ truncate
        # for non-negative values on both engines (DuckDB CAST rounds, so
        # floor() is spelled out)
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
    ).orderBy("doc_id")


def pack_sequences_oracle_sql(budget: int = 512, n_shards: int = 4) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT
           % {n_shards} AS shard_id,
         CAST(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, shard_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM t
)
SELECT doc_id, shard_id, n_tokens,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(floor(start_tok / {budget}) AS BIGINT) AS pack_id
FROM s
ORDER BY doc_id
"""


def shard_manifest_query(
    spark: SparkSession, sf_dir: str, n_shards: int = 8
) -> DataFrame:
    """Deterministic shard assignment + per-shard manifest:
    ``(shard_id, n_docs, total_chars, min_doc_id, max_doc_id,
    content_fingerprint)``.

    The fingerprint is the XOR-fold of each doc's md5-int64 hash of
    ``doc_id || ':' || text`` — order-independent and overflow-free (a
    SUM of 60-bit hashes would overflow int64 under ANSI mode at corpus
    scale), so a dataloader can re-derive and byte-verify a shard
    regardless of row order. Binding the id into the hash matters: a
    text-only fold verifies a shard whose ids and texts were MISPAIRED,
    and any swap of two equal-text hashes XOR-cancels invisibly.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            _hash_bucket(F.col("doc_id"), n_shards).alias("shard_id"),
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            _md5_hash64(
                F.concat_ws(":", F.col("doc_id"), F.col("text"))
            ).alias("h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.bit_xor("h").alias("content_fingerprint"),
        )
        .orderBy("shard_id")
    )


def shard_manifest_oracle_sql(n_shards: int = 8) -> str:
    return f"""
WITH t AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT
           % {n_shards} AS shard_id,
         doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT
           AS h
  FROM documents
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       bit_xor(h) AS content_fingerprint
FROM t
GROUP BY shard_id
ORDER BY shard_id
"""


def interleave_sources_query(
    spark: SparkSession,
    sf_dir: str,
    weights: dict[str, int] | None = None,
    limit: int = 300,
) -> DataFrame:
    """Deterministic weighted interleave of corpus sources — the
    dataloader-facing twin of ``mixture_weights``: given integer source
    weights, emit documents in the order a rate-proportional scheduler
    would consume them, so a source with weight 3 appears ~3x as often
    as a weight-1 source at every prefix of the stream.

    Shape: each doc gets a deterministic within-source rank (ordered by
    ``md5``-derived shuffle key — same keyed-shuffle idiom as
    ``shard_manifest``), then a virtual timestamp
    ``vt = rank * LCM_SCALE div weight`` (ticks between consumptions of
    a weight-``w`` source are ``1/w`` long). The interleaved order is
    ``(vt, source, rank)`` — all integer, so the DuckDB twin is
    bit-identical. At 100 TB the ORDER is what matters and it needs no
    global sort — writers emit per-shard files sorted by ``vt``
    (range-partitioned on it), which a merge-reading dataloader
    consumes in order.

    The global ``pos`` materialized here is for the oracle/consumer and
    is computed WITHOUT a corpus-wide single-partition window:
    ``orderBy(...).limit(limit)`` FIRST (Spark plans
    TakeOrderedAndProject — per-partition heaps of size ``limit`` + a
    driver merge, no full-corpus exchange), THEN ``row_number`` over the
    limit-sized frame. (vt, source, rank) is a total order — rank is
    unique within source — so the top-``limit`` prefix is deterministic
    and byte-identical to numbering before limiting. Same
    TakeOrdered-then-tiny-window shape as ``analytics.key_skew_profile``.
    """
    weights = weights or {
        "src0": 5, "src1": 3, "src2": 2, "src3": 1, "src4": 1
    }
    docs = read_table(spark, sf_dir, "documents")
    wdf = F.broadcast(
        spark.createDataFrame(
            sorted(weights.items()), "source string, weight long"
        )
    )
    ranked = (
        docs.join(wdf, "source")
        .select(
            "source",
            "doc_id",
            "weight",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    _md5_hash64(F.col("doc_id").cast("string")), "doc_id"
                )
            )
            .alias("rank"),
        )
        .withColumn("vt", F.expr("(rank * 1000000) div weight"))
    )
    top = (
        ranked.select("source", "doc_id", "rank", "vt")
        .orderBy("vt", "source", "rank")
        .limit(limit)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy("vt", "source", "rank"))
        .alias("pos"),
        "source",
        "doc_id",
        "rank",
        "vt",
    ).orderBy("pos")


INTERLEAVE_SOURCES_SQL = """
WITH w(source, weight) AS (
  VALUES ('src0', 5), ('src1', 3), ('src2', 2), ('src3', 1), ('src4', 1)
), ranked AS (
  SELECT d.source, d.doc_id, w.weight,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    d.doc_id
         ) AS rank
  FROM documents d JOIN w ON d.source = w.source
), vts AS (
  SELECT source, doc_id, CAST(rank AS BIGINT) AS rank,
         (rank * 1000000) // weight AS vt
  FROM ranked
)
SELECT CAST(row_number() OVER (ORDER BY vt, source, rank) AS BIGINT) AS pos,
       source, doc_id, rank, CAST(vt AS BIGINT) AS vt
FROM vts
ORDER BY pos
LIMIT 300
"""


def proportional_split_query(
    spark: SparkSession,
    sf_dir: str,
    strata_col: str = "lang",
    fracs_milli: tuple[int, int] = (800, 900),
    names: tuple[str, str, str] = ("train", "val", "test"),
) -> DataFrame:
    """Exact-proportion stratified train/val/test assignment.

    ``split_assign`` (functions/transforms) hashes each row independently
    — proportions hold only in expectation. Real training preparation
    wants EXACT per-stratum proportions: here each stratum is ordered by
    a deterministic md5 shuffle key and cut at ``floor(n * frac)`` via
    ``row_number * 1000 <= cum_frac_milli * n`` — integer-exact, no
    float thresholds, reproducible run-over-run.

    Scale shape: ONE keyed window per stratum (hash-partitioned exchange
    on the stratum key — the same cost as any per-stratum operator; the
    md5 order key is computed scan-side). No global window, no collect.
    Skewed strata are AQE's standard problem, same as every groupBy.

    Returns per-doc assignments (doc_id, stratum, split) — the artifact
    a training job joins against.
    """
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(strata_col).orderBy(
        _md5_hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    n = Window.partitionBy(strata_col)
    ranked = docs.select(
        "doc_id",
        F.col(strata_col).alias("stratum"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(n).alias("_n"),
    )
    lo, hi = fracs_milli
    return (
        ranked.select(
            "doc_id",
            "stratum",
            F.when(F.col("_rn") * 1000 <= F.col("_n") * lo, names[0])
            .when(F.col("_rn") * 1000 <= F.col("_n") * hi, names[1])
            .otherwise(names[2])
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def proportional_split_oracle_sql(
    strata_col: str = "lang",
    fracs_milli: tuple[int, int] = (800, 900),
    names: tuple[str, str, str] = ("train", "val", "test"),
) -> str:
    lo, hi = fracs_milli
    return f"""
WITH ranked AS (
  SELECT doc_id, {strata_col} AS stratum,
         row_number() OVER (
           PARTITION BY {strata_col}
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY {strata_col}) AS n
  FROM documents
)
SELECT doc_id, stratum,
       CASE WHEN rn * 1000 <= n * {lo} THEN '{names[0]}'
            WHEN rn * 1000 <= n * {hi} THEN '{names[1]}'
            ELSE '{names[2]}' END AS split
FROM ranked
ORDER BY doc_id
"""


def vocab_coverage_query(
    spark: SparkSession,
    sf_dir: str,
    vocab_size: int = 20,
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: how much of each language's
    token stream falls outside the top-``vocab_size`` corpus vocabulary (the synthetic corpus has ~31 distinct words, so the 20-word default leaves a real OOV tail at every SF)
    (the OOV mass a fixed word-level vocab would leave to byte fallback).

    Scale shape: the vocabulary is a partial-agged word count +
    TakeOrdered(vocab_size) — a bounded frame BROADCAST to the token
    stream (never a shuffle of the corpus against it); per-doc OOV
    counts are one (doc, lang) groupBy; the language rollup is a
    25-group aggregate. All integer arithmetic (milli-rates via div).
    """
    from ..operators.collocations import _words

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(_words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_oov").alias("oov_tokens"),
            F.sum((F.col("n_oov") == 0).cast("long")).alias("fully_covered"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "oov_tokens",
            F.expr("oov_tokens * 1000 div total_tokens").alias("oov_milli"),
            "fully_covered",
        )
        .orderBy("lang")
    )


def vocab_coverage_oracle_sql(vocab_size: int = 20) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, w
  FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS w
    FROM documents
  )
  WHERE w <> ''
),
vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY 1
  ) ORDER BY c DESC, w LIMIT {vocab_size}
),
per_doc AS (
  SELECT t.doc_id, t.lang,
         count(*) AS n_toks,
         sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_oov) AS BIGINT) AS oov_tokens,
       CAST(sum(n_oov) AS BIGINT) * 1000
         // CAST(sum(n_toks) AS BIGINT) AS oov_milli,
       CAST(sum(CASE WHEN n_oov = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS fully_covered
FROM per_doc
GROUP BY lang
ORDER BY lang
"""
