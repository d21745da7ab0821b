"""Oracle-checkable showcase queries for the transform library, SCD2, and
text-analysis operators.

Each function here pairs a PySpark implementation with an ANSI-SQL twin
(module-level ``*_SQL`` strings) that DuckDB runs on the same parquet tables —
the driver's correctness contract (``__spark_entry__.py``). Demo inputs that
the testdata lacks (raw FAERS-style date/numeric strings) are derived
deterministically from existing columns, so both engines see identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    doc_fingerprint,
    language_id,
    quality_score_cols,
    repetition_stats_cols,
    token_count,
)
from ..functions.transforms import guarded_double
from ..operators.scd2 import scd2_initial_load, scd2_merge
from ..sources.tables import read_table

def stream_scratch_dir(prefix: str) -> str:
    """Per-invocation scratch tree for a streaming entry (landing zone +
    checkpoint + sink), reclaimed at interpreter exit. The entry's
    returned DataFrame lazily reads the sink parquet, so the tree must
    outlive the call — exit-time removal keeps repeated invocations from
    leaking one staged events.parquet copy each (ADVICE r7 hygiene item;
    pinned by tests/test_streaming.py)."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def stage_events(sf_dir: str, dst: str) -> None:
    """Land ``events.parquet`` into a streaming landing zone as a
    producer would. Handles both physical forms of the table: the
    driver testdata's single parquet FILE, and a Spark-written
    DIRECTORY of part files (the scale-curve probe corpora — the
    round-11 streaming-probe fix). ``dst`` is the destination file
    stem; a directory source fans out to ``dst``-prefixed parts."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    src = f"{sf_dir}/events.parquet"
    if _os.path.isdir(src):
        parts = sorted(_glob.glob(f"{src}/part-*.parquet"))
        base = dst[: -len(".parquet")] if dst.endswith(".parquet") else dst
        for i, p in enumerate(parts):
            _shutil.copy(p, f"{base}-{i}.parquet")
    else:
        _shutil.copy(src, dst)


# --------------------------------------------------------------------------
# SCD Type 2 end-state scenario (M4)
# --------------------------------------------------------------------------


def scd2_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SCD2 merge scenario on the customer dimension.

    Initial load at 2024-01-01 from ``customer``; a second batch at
    2024-06-01 where customers with ``c_custkey % 7 == 0`` change segment,
    ``% 11 == 0`` are absent from the batch (must remain untouched), and
    ``% 13 == 0`` arrive as brand-new business keys. The output is the full
    dimension state — history row + new version for changed keys.
    """
    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal").cast("long").alias("bal"),
    )
    keys = ["c_custkey"]
    tracked = ["c_name", "c_mktsegment", "bal"]
    target = scd2_initial_load(base, keys, tracked, "2024-01-01")

    src_mod = base.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    src_new = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        F.lit("NEWSEG").alias("c_mktsegment"),
        "bal",
    )
    merged = scd2_merge(
        target, src_mod.unionByName(src_new), keys, tracked, "2024-06-01"
    )
    return merged.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "bal",
        "effective_date",
        "end_date",
        "is_current",
    ).orderBy("c_custkey", "effective_date")


SCD2_SCENARIO_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment,
         CAST(round(c_acctbal) AS BIGINT) AS bal
  FROM customer
),
changed AS (
  SELECT c_custkey FROM base WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
)
SELECT b.c_custkey, b.c_name, b.c_mktsegment, b.bal,
       DATE '2024-01-01' AS effective_date,
       CASE WHEN ch.c_custkey IS NOT NULL THEN DATE '2024-06-01' END AS end_date,
       ch.c_custkey IS NULL AS is_current
FROM base b LEFT JOIN changed ch ON b.c_custkey = ch.c_custkey
UNION ALL
SELECT b.c_custkey, b.c_name, 'CHANGED', b.bal,
       DATE '2024-06-01', NULL, true
FROM base b JOIN changed ch ON b.c_custkey = ch.c_custkey
UNION ALL
SELECT b.c_custkey + 1000000, b.c_name, 'NEWSEG', b.bal,
       DATE '2024-06-01', NULL, true
FROM base b WHERE b.c_custkey % 13 = 0
ORDER BY c_custkey, effective_date
"""

# --------------------------------------------------------------------------
# Transform-library demos (M1) — FAERS-style raw strings derived from orders
# --------------------------------------------------------------------------


def date_standardize_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAERS partial-date standardization over derived raw strings.

    Uses ``try_to_date`` under the regex guards (ANSI-safe): 8-digit, 6-digit
    (→ first of month), 4-digit (→ Jan 1), junk/empty → NULL.
    """
    orders = read_table(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 5
    raw = (
        F.when(m == 0, F.date_format("o_orderdate", "yyyyMMdd"))
        .when(m == 1, F.date_format("o_orderdate", "yyyyMM"))
        .when(m == 2, F.date_format("o_orderdate", "yyyy"))
        .when(m == 3, F.lit("not-a-date"))
        .otherwise(F.lit(""))
    )
    with_raw = orders.select("o_orderkey", raw.alias("raw_date"))
    c = F.trim(F.col("raw_date"))
    std = (
        F.when(c.rlike(r"^\d{8}$"), F.try_to_date(c, "yyyyMMdd"))
        .when(
            c.rlike(r"^\d{6}$"),
            F.try_to_date(F.concat(c, F.lit("01")), "yyyyMMdd"),
        )
        .when(
            c.rlike(r"^\d{4}$"),
            F.try_to_date(F.concat(c, F.lit("0101")), "yyyyMMdd"),
        )
        .otherwise(F.lit(None).cast("date"))
    )
    return with_raw.select("o_orderkey", "raw_date", std.alias("std_date")).orderBy(
        "o_orderkey"
    )


DATE_STANDARDIZE_SQL = """
WITH with_raw AS (
  SELECT o_orderkey,
         CASE o_orderkey % 5
           WHEN 0 THEN strftime(o_orderdate, '%Y%m%d')
           WHEN 1 THEN strftime(o_orderdate, '%Y%m')
           WHEN 2 THEN strftime(o_orderdate, '%Y')
           WHEN 3 THEN 'not-a-date'
           ELSE ''
         END AS raw_date
  FROM orders
)
SELECT o_orderkey, raw_date,
       CASE
         WHEN regexp_matches(trim(raw_date), '^\\d{8}$')
           THEN CAST(try_strptime(trim(raw_date), '%Y%m%d') AS DATE)
         WHEN regexp_matches(trim(raw_date), '^\\d{6}$')
           THEN CAST(try_strptime(trim(raw_date) || '01', '%Y%m%d') AS DATE)
         WHEN regexp_matches(trim(raw_date), '^\\d{4}$')
           THEN CAST(try_strptime(trim(raw_date) || '0101', '%Y%m%d') AS DATE)
         ELSE NULL
       END AS std_date
FROM with_raw
ORDER BY o_orderkey
"""


def numeric_standardize_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-guarded numeric cast over derived raw strings."""
    orders = read_table(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 6
    raw = (
        F.when(m == 0, F.round(F.col("o_totalprice") * 100).cast("long").cast("string"))
        .when(m == 1, F.lit("123.45"))
        .when(m == 2, F.lit("abc"))
        .when(m == 3, F.lit("1e5"))
        .when(m == 4, F.lit(" 42 "))
        .otherwise(F.lit(""))
    )
    with_raw = orders.select("o_orderkey", raw.alias("raw_num"))
    return with_raw.select(
        "o_orderkey", "raw_num", guarded_double("raw_num").alias("std_num")
    ).orderBy("o_orderkey")


NUMERIC_STANDARDIZE_SQL = """
WITH with_raw AS (
  SELECT o_orderkey,
         CASE o_orderkey % 6
           WHEN 0 THEN CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR)
           WHEN 1 THEN '123.45'
           WHEN 2 THEN 'abc'
           WHEN 3 THEN '1e5'
           WHEN 4 THEN ' 42 '
           ELSE ''
         END AS raw_num
  FROM orders
)
SELECT o_orderkey, raw_num,
       CASE WHEN regexp_matches(trim(raw_num), '^[0-9]+\\.?[0-9]*$')
            THEN CAST(trim(raw_num) AS DOUBLE) ELSE NULL END AS std_num
FROM with_raw
ORDER BY o_orderkey
"""

# --------------------------------------------------------------------------
# Text-analysis suite over documents
# --------------------------------------------------------------------------


def token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text", "whitespace").alias("n_ws_tokens"),
        token_count("text", "regex").alias("n_regex_tokens"),
    ).orderBy("doc_id")


TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                 ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END
            AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
            AS INTEGER) AS n_regex_tokens
FROM documents
ORDER BY doc_id
"""


def text_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    q = quality_score_cols(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in q.items()]).orderBy("doc_id")


TEXT_QUALITY_SQL = """
WITH sig AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS DOUBLE)
           AS toks,
         CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(len(regexp_extract_all(lower(text),
              '\\b(the|and|of|to|in|is|that|it|for|was)\\b')) AS DOUBLE) AS stop_hits
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, toks,
         CASE WHEN n_chars > 0 THEN n_chars ELSE 1.0 END AS safe_chars,
         CASE WHEN toks > 0 THEN toks ELSE 1.0 END AS safe_toks,
         punct, alpha, stop_hits
  FROM sig
)
SELECT doc_id,
       CAST(n_chars AS BIGINT)                               AS q_len,
       CAST(toks AS BIGINT)                                  AS q_tokens,
       round(CASE WHEN toks > 0 THEN n_chars / toks ELSE 0.0 END, 4)
                                                             AS q_mean_tok_len,
       round(punct / safe_chars, 4)                          AS q_punct_ratio,
       round(stop_hits / safe_toks, 4)                       AS q_stop_ratio,
       round(alpha / safe_chars, 4)                          AS q_alpha_ratio,
       round(0.25 * least(n_chars / 500.0, 1.0)
             + 0.25 * least((stop_hits / safe_toks) * 2.5, 1.0)
             + 0.25 * (alpha / safe_chars)
             + 0.25 * (1.0 - least((punct / safe_chars) * 4.0, 1.0)), 4)
                                                             AS q_score
FROM r
ORDER BY doc_id
"""


def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        language_id(F.col("text")).alias("pred_lang"),
    ).orderBy("doc_id")


# DuckDB single-quoted strings are not backslash-escaped: pass regexes as-is.
_MARKER = dict(LANG_MARKERS)
LANG_ID_SQL = f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
         len(regexp_extract_all(lower(text), '{_MARKER["de"]}')) AS c_de,
         len(regexp_extract_all(lower(text), '{_MARKER["en"]}')) AS c_en,
         len(regexp_extract_all(lower(text), '{_MARKER["es"]}')) AS c_es,
         len(regexp_extract_all(lower(text), '{_MARKER["fr"]}')) AS c_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN c_de IS NULL THEN NULL
            WHEN c_de >= greatest(c_en, c_es, c_fr) THEN 'de'
            WHEN c_en >= greatest(c_es, c_fr) THEN 'en'
            WHEN c_es >= c_fr THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM scores
ORDER BY doc_id
"""


def fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix fingerprint + survivor per fingerprint group."""
    docs = read_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", doc_fingerprint(F.col("text"), 8).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keep_id")
    )


FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           (string_split(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '))[1:8], ' '))
           AS fingerprint
  FROM documents
)
SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_docs
FROM fp GROUP BY fingerprint
ORDER BY keep_id
"""

def mixture_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling weights toward a uniform token budget.

    The training-mixture step: given per-group token totals, the upsampling
    weight that equalizes each group's share is
    ``target_share / actual_share = total / (k * group_tokens)`` — one exact
    integer product and ONE IEEE division, so DuckDB reproduces it
    bit-for-bit. Weights are capped at 3.0 (a real pipeline bounds
    upsampling to limit repetition).

    Scale shape: one shuffle (groupBy lang, map-side combine on the token
    sums); the unpartitioned window runs over the *aggregated* frame —
    cardinality = number of groups, never the corpus.
    """
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    grouped = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    everything = Window.partitionBy()
    total = F.sum("n_tokens").over(everything)
    k = F.count(F.lit(1)).over(everything)
    raw_weight = total.cast("double") / (k * F.col("n_tokens")).cast("double")
    return grouped.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / total.cast("double"), 4).alias(
            "token_share"
        ),
        F.round(F.least(raw_weight, F.lit(3.0)), 4).alias("sample_weight"),
    ).orderBy("lang")


MIXTURE_WEIGHTS_SQL = """
WITH g AS (
  SELECT lang, count(*) AS n_docs,
         sum(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
             ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END) AS n_tokens
  FROM documents GROUP BY lang
)
SELECT lang,
       n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE)
             / CAST(sum(n_tokens) OVER () AS DOUBLE), 4) AS token_share,
       round(least(CAST(sum(n_tokens) OVER () AS DOUBLE)
                   / CAST(count(*) OVER () * n_tokens AS DOUBLE), 3.0), 4)
         AS sample_weight
FROM g
ORDER BY lang
"""


def repetition_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-doc repetition signals + keep flag.

    Thresholds (top-word ≤ 0.15, dup-2gram ≤ 0.05, adjacent repeats ≤ 4) sit
    inside the observed sf0.01 distribution so both keep classes appear.
    Zero shuffle: one codegen'd projection over the scan, then a sort for
    display — the 100 TB shape is scan → project → write.
    """
    docs = read_table(spark, sf_dir, "documents")
    r = repetition_stats_cols(F.col("text"))
    keep = (
        (r["r_top_word_frac"] <= 0.15)
        & (r["r_dup_2gram_frac"] <= 0.05)
        & (r["r_adjacent_repeats"] <= 4)
    )
    return docs.select(
        "doc_id",
        *[v.alias(k) for k, v in r.items()],
        keep.alias("keep"),
    ).orderBy("doc_id")


REPETITION_FILTER_SQL = """
WITH w AS (
  SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS t,
         regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words
  FROM documents
), s AS (
  SELECT doc_id, t, words, len(words) AS n,
         list_max(list_transform(list_distinct(words),
                  tok -> len(list_filter(words, w -> w = tok)))) AS topc,
         CASE WHEN len(words) >= 2
              THEN list_transform(range(1, len(words)),
                   i -> concat_ws(' ', words[i], words[i+1]))
              ELSE [] END AS g2,
         CASE WHEN len(words) >= 3
              THEN list_transform(range(1, len(words) - 1),
                   i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
              ELSE [] END AS g3,
         CASE WHEN len(words) >= 2
              THEN len(list_filter(range(1, len(words)),
                       i -> words[i+1] = words[i]))
              ELSE 0 END AS adj
  FROM w
), r AS (
  SELECT doc_id,
         CASE WHEN t = '' THEN 0 ELSE n END AS r_tokens,
         CASE WHEN t = '' THEN 0 ELSE topc END AS r_top_word_count,
         CASE WHEN t = '' OR n = 0 THEN 0.0
              ELSE round(CAST(topc AS DOUBLE) / CAST(n AS DOUBLE), 4)
              END AS r_top_word_frac,
         CASE WHEN t = '' OR len(g2) = 0 THEN 0.0
              ELSE round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                         / CAST(len(g2) AS DOUBLE), 4) END AS r_dup_2gram_frac,
         CASE WHEN t = '' OR len(g3) = 0 THEN 0.0
              ELSE round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                         / CAST(len(g3) AS DOUBLE), 4) END AS r_dup_3gram_frac,
         CASE WHEN t = '' THEN 0 ELSE adj END AS r_adjacent_repeats
  FROM s
)
SELECT doc_id,
       CAST(r_tokens AS BIGINT) AS r_tokens,
       CAST(r_top_word_count AS BIGINT) AS r_top_word_count,
       r_top_word_frac, r_dup_2gram_frac, r_dup_3gram_frac,
       CAST(r_adjacent_repeats AS BIGINT) AS r_adjacent_repeats,
       (r_top_word_frac <= 0.15 AND r_dup_2gram_frac <= 0.05
        AND r_adjacent_repeats <= 4) AS keep
FROM r
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# As-of join showcase (DuckDB native ASOF JOIN as the oracle)
# --------------------------------------------------------------------------


def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click event: the user's most recent prior purchase."""
    from ..operators.asof import as_of_join
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return as_of_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"],
    ).orderBy("user_id", "event_id")


ASOF_JOIN_SQL = """
SELECT l.user_id, l.event_id, l.ts, l.value,
       r.value AS value_asof, r.ts AS ts_asof
FROM (SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.user_id, l.event_id
"""

# --------------------------------------------------------------------------
# Multimodal plumbing showcase (rows-only: Python decode kernel)
# --------------------------------------------------------------------------


def multimodal_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media pipeline over synthesized payloads.

    Documents are wrapped into the deterministic fake media container
    (header built with Spark binary expressions: magic + dims derived from
    doc stats), then decoded (mapInPandas), frame-sampled, and rolled up —
    the full multimodal column round-trip with zero media libraries.
    """
    from ..operators.multimodal import decode_media, sample_frames

    docs = read_table(spark, sf_dir, "documents")
    width = (F.col("n_chars") % 1000 + 16).cast("int")
    height = (F.col("doc_id") % 500 + 16).cast("int")
    n_frames = (F.col("n_chars") % 97 + 1).cast("int")
    header = F.concat(
        F.lit(b"FDLS"),
        _be16(width),
        _be16(height),
        _be32(n_frames),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, F.encode(F.substring("text", 1, 32), "UTF-8")).alias(
            "payload"
        ),
    )
    decoded = decode_media(media)
    frames = sample_frames(media, every_n=10).filter(F.col("ok"))
    per_media_frames = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled_frames")
    )
    return (
        decoded.join(per_media_frames, "media_id", "left")
        .select(
            "media_id",
            "width",
            "height",
            "n_frames",
            "ok",
            F.coalesce("n_sampled_frames", F.lit(0)).alias("n_sampled_frames"),
        )
        .orderBy("media_id")
    )


def _be16(col: F.Column) -> F.Column:
    """2-byte big-endian encoding of an int column as BINARY."""
    hex4 = F.lpad(F.hex(col), 4, "0")
    return F.to_binary(hex4, F.lit("hex"))


def _be32(col: F.Column) -> F.Column:
    hex8 = F.lpad(F.hex(col), 8, "0")
    return F.to_binary(hex8, F.lit("hex"))


# The fake container's header fields are closed-form in (doc_id, n_chars),
# and decode_media/sample_frames invert that construction exactly, so the
# whole binary round-trip (encode → mapInPandas decode → frame explode →
# rollup) has an independent closed-form twin: width/height/n_frames from
# the same arithmetic, ok always true (every payload carries the magic and
# ≥12 bytes), and n_sampled_frames = |{0, 10, .. < n_frames}| =
# (n_frames-1) // 10 + 1. Verifying against it checks the Python kernel,
# the Arrow schema, and the big-endian header codec end-to-end.
MULTIMODAL_DECODE_SQL = """
SELECT doc_id AS media_id,
       CAST(n_chars % 1000 + 16 AS INTEGER) AS width,
       CAST(doc_id % 500 + 16 AS INTEGER) AS height,
       CAST(n_chars % 97 + 1 AS INTEGER) AS n_frames,
       TRUE AS ok,
       CAST((n_chars % 97) // 10 + 1 AS BIGINT) AS n_sampled_frames
FROM documents
ORDER BY media_id
"""


# --------------------------------------------------------------------------
# Corpus curation: the end-to-end training-data pipeline composition
# --------------------------------------------------------------------------


def corpus_curation_query(
    spark: SparkSession,
    sf_dir: str,
    min_score: float = 0.5,
    min_tokens: int = 10,
) -> DataFrame:
    """One pass of LLM training-data curation over ``documents``:
    exact-dedup survivors → language ID + quality scoring → threshold filter
    → per-language corpus statistics.

    This is the composition a real curation run executes; each stage uses
    the already-oracle-checked expressions (``dedup._norm_text`` hashing,
    ``language_id``, ``quality_score_cols``).

    Plan shape (r8, VERDICT r7 item 6): ONE corpus scan. The r7 version
    ran ``dedup_exact`` (scan + groupBy) and then equi-joined the
    survivor ids back to a SECOND scan of documents, shuffling the full
    text column through the join. Here language/quality columns are
    computed in the scan-stage projection, then the survivor per
    content-hash is a single ``min(struct(doc_id, ...))`` groupBy —
    map-side partial aggregation, one shuffle of (hash, 4 scalars), no
    join, text never shuffled. Duplicate rows are scored before being
    dropped, but the struct-min carries exactly the min-doc_id row's
    scores, so the output is byte-identical to score-after-dedup.
    Deterministic aggregation: the 4-decimal per-row score becomes an
    exact scaled integer before the cross-row sum, so the group average
    is engine-identical.
    """
    from ..operators.dedup import _norm_text

    docs = read_table(spark, sf_dir, "documents")
    q = quality_score_cols(F.col("text"))
    scored = docs.select(
        F.md5(_norm_text(F.col("text"))).alias("content_hash"),
        F.struct(
            F.col("doc_id"),
            language_id(F.col("text")).alias("pred_lang"),
            q["q_tokens"].alias("q_tokens"),
            q["q_score"].alias("q_score"),
        ).alias("s"),
    )
    # struct min compares fields in order: doc_id first == dedup_exact's
    # min(doc_id) survivor, carrying that row's scores along
    enriched = (
        scored.groupBy("content_hash")
        .agg(F.min("s").alias("s"))
        .select("s.pred_lang", "s.q_tokens", "s.q_score")
    )
    kept = enriched.filter(
        (F.col("q_score") >= min_score) & (F.col("q_tokens") >= min_tokens)
    )
    score_e4 = F.round(F.col("q_score") * 10000).cast("long")
    return (
        kept.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("q_tokens").cast("long")).alias("total_tokens"),
            F.sum(score_e4).alias("score_e4"),
        )
        .select(
            "pred_lang",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("score_e4").cast("double") / 10000.0 / F.col("n_docs"), 4
            ).alias("avg_quality"),
        )
        .orderBy("pred_lang")
    )


def corpus_curation_oracle_sql(min_score: float, min_tokens: int) -> str:
    """DuckDB twin composing the dedup + quality + lang oracle pieces."""
    _m = dict(LANG_MARKERS)
    return f"""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
),
sig AS (
  SELECT d.doc_id, d.text,
         CAST(length(d.text) AS DOUBLE) AS n_chars,
         CAST(CASE WHEN regexp_replace(d.text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(d.text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS DOUBLE)
           AS toks,
         CAST(length(regexp_replace(d.text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           AS alpha,
         CAST(len(regexp_extract_all(lower(d.text),
              '\\b(the|and|of|to|in|is|that|it|for|was)\\b')) AS DOUBLE)
           AS stop_hits
  FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
),
scored AS (
  SELECT doc_id,
         CASE WHEN len(regexp_extract_all(lower(text), '{_m["de"]}'))
                   >= greatest(len(regexp_extract_all(lower(text), '{_m["en"]}')),
                               len(regexp_extract_all(lower(text), '{_m["es"]}')),
                               len(regexp_extract_all(lower(text), '{_m["fr"]}')))
              THEN 'de'
              WHEN len(regexp_extract_all(lower(text), '{_m["en"]}'))
                   >= greatest(len(regexp_extract_all(lower(text), '{_m["es"]}')),
                               len(regexp_extract_all(lower(text), '{_m["fr"]}')))
              THEN 'en'
              WHEN len(regexp_extract_all(lower(text), '{_m["es"]}'))
                   >= len(regexp_extract_all(lower(text), '{_m["fr"]}'))
              THEN 'es'
              ELSE 'fr' END AS pred_lang,
         CAST(toks AS BIGINT) AS q_tokens,
         round(0.25 * least(n_chars / 500.0, 1.0)
               + 0.25 * least((stop_hits / CASE WHEN toks > 0 THEN toks ELSE 1.0 END) * 2.5, 1.0)
               + 0.25 * (alpha / CASE WHEN n_chars > 0 THEN n_chars ELSE 1.0 END)
               + 0.25 * (1.0 - least((punct / CASE WHEN n_chars > 0 THEN n_chars ELSE 1.0 END) * 4.0, 1.0)),
               4) AS q_score
  FROM sig
)
SELECT pred_lang,
       count(*) AS n_docs,
       CAST(sum(q_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(CAST(round(q_score * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0 / count(*), 4) AS avg_quality
FROM scored
WHERE q_score >= {min_score} AND q_tokens >= {min_tokens}
GROUP BY pred_lang
ORDER BY pred_lang
"""


# --------------------------------------------------------------------------
# Range join + salted join — driver-checked query surfaces
# --------------------------------------------------------------------------


def range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each user's first-30-minutes window, via the bucketed
    range join (operators/ranges.py) — counts per user.

    The interval side is derived per user (min ts + 30 min), so the range
    join runs with an extra user equi key; bins are 30 min wide, making at
    most 2 replicas per interval.
    """
    from ..operators.ranges import range_join
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    firsts = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = range_join(
        events.select("user_id", "event_id", "ts"),
        firsts,
        point="ts",
        start="w_start",
        end="w_end",
        on=["user_id"],
        bin_width=1800,
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_first30m"),
            F.countDistinct("event_id").alias("n_distinct_events"),
        )
        .orderBy("user_id")
    )


RANGE_JOIN_SQL = """
WITH firsts AS (
  SELECT user_id, min(ts) AS w_start, min(ts) + INTERVAL 30 MINUTE AS w_end
  FROM events GROUP BY user_id
)
SELECT e.user_id,
       count(*)                   AS n_events_first30m,
       count(DISTINCT e.event_id) AS n_distinct_events
FROM events e
JOIN firsts f
  ON e.user_id = f.user_id AND e.ts BETWEEN f.w_start AND f.w_end
GROUP BY e.user_id
ORDER BY e.user_id
"""


def salted_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ⋈ customer through the salted join (operators/skew.py) —
    the salt must not change results, so the oracle is the plain join."""
    from ..operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, customer, on=["o_custkey"], n_salts=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("market_segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("value_c"),
        )
        .select(
            "market_segment",
            "n_orders",
            "n_customers",
            (F.col("value_c").cast("double") / 100.0).alias("total_value"),
        )
        .orderBy("market_segment")
    )


SALTED_JOIN_SQL = """
SELECT c.c_mktsegment AS market_segment,
       count(*)                    AS n_orders,
       count(DISTINCT o.o_custkey) AS n_customers,
       CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
                                   AS total_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY market_segment
"""


# --------------------------------------------------------------------------
# Chunking + PII redaction — corpus preprocessing query surfaces
# --------------------------------------------------------------------------


def chunk_documents_query(
    spark: SparkSession, sf_dir: str, chunk_size: int = 32, overlap: int = 8
) -> DataFrame:
    """One row per (doc, chunk): overlapping token windows over documents."""
    from ..functions.text import chunk_tokens

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(chunk_tokens("text", chunk_size, overlap)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_index").alias("chunk_index"),
            F.length("c.chunk_text").alias("chunk_chars"),
            F.md5(F.col("c.chunk_text")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_index")
    )


def chunk_documents_oracle_sql(chunk_size: int, overlap: int) -> str:
    stride = chunk_size - overlap
    return f"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS w
  FROM documents
),
counts AS (
  SELECT doc_id, w,
         greatest(CAST(ceil(CAST(len(w) - {overlap} AS DOUBLE) / {stride})
                       AS INTEGER), 1) AS n_chunks
  FROM words
),
chunks AS (
  SELECT doc_id,
         CAST(i AS INTEGER) AS chunk_index,
         array_to_string(w[(i * {stride} + 1):(i * {stride} + {chunk_size})], ' ')
           AS chunk_text
  FROM counts, unnest(generate_series(0, n_chunks - 1)) AS t(i)
)
SELECT doc_id, chunk_index,
       CAST(length(chunk_text) AS INTEGER) AS chunk_chars,
       md5(chunk_text) AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_index
"""


def redact_pii_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents; emits redacted length + hash plus a
    per-doc count of redacted spans (so the oracle checks the rewrite
    itself, not just its side effects)."""
    from ..functions.text import PII_PATTERNS, redact_pii

    docs = read_table(spark, sf_dir, "documents")
    red = redact_pii("text")
    n_redacted = sum(
        (
            F.size(F.split(F.col("text"), pat, -1)) - 1
            for pat in PII_PATTERNS.values()
        ),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        F.length(red).alias("redacted_chars"),
        F.md5(red).alias("redacted_hash"),
        n_redacted.cast("int").alias("n_pii_spans"),
    ).orderBy("doc_id")


def redact_pii_oracle_sql() -> str:
    from ..functions.text import PII_PATTERNS

    red = "text"
    spans = []
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
        spans.append(f"(len(regexp_split_to_array(text, '{pat}')) - 1)")
    return f"""
SELECT doc_id,
       CAST(length({red}) AS INTEGER) AS redacted_chars,
       md5({red}) AS redacted_hash,
       CAST({' + '.join(spans)} AS INTEGER) AS n_pii_spans
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Deterministic sampling — split assignment + stratified cap
# --------------------------------------------------------------------------


def split_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment over documents + per-split profile."""
    from ..operators.sampling import deterministic_split

    docs = read_table(spark, sf_dir, "documents")
    return (
        deterministic_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
        )
        .orderBy("split")
    )


SPLIT_ASSIGN_SQL = """
WITH assigned AS (
  SELECT *,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 100
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 96 THEN 'train'
            WHEN bucket < 98 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM assigned
GROUP BY 1
ORDER BY split
"""


def stratified_cap_query(spark: SparkSession, sf_dir: str, cap: int = 30) -> DataFrame:
    """At most ``cap`` docs per language, hash-selected — emits the exact
    selection so the oracle verifies membership, not just counts."""
    from ..operators.sampling import stratified_cap

    docs = read_table(spark, sf_dir, "documents")
    return (
        stratified_cap(docs, ["lang"], "doc_id", cap)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


STRATIFIED_CAP_SQL = """
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT
                      % 1000000007,
                    doc_id) AS rk
  FROM documents
) WHERE rk <= {cap}
ORDER BY lang, doc_id
"""


def versioned_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel + transactional compaction over a snapshot-versioned
    table (``sources.versioned.VersionedTable``), oracle-checkable.

    Builds a fresh versioned table from ``documents``: commit v1
    (``doc_id % 3 == 0``, overwrite), commit v2 (``doc_id % 3 == 1``,
    append), then compact (v3, same logical content as v2). The result
    unions the **v1 snapshot read back after two further commits** with the
    **post-compaction current read** — so the hashes prove (a) time travel
    returns exactly the v1 file set, (b) append accumulated both batches,
    and (c) compaction rewrote files without changing a single row. The
    oracle reproduces both slices straight from ``documents``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    vt.write(docs.filter(F.col("doc_id") % 3 == 1), mode="append")
    vt.compact(spark, target_file_bytes=256 * 1024 * 1024)

    v1 = vt.read(spark, version=1).withColumn("as_of", F.lit("v1"))
    cur = vt.read(spark).withColumn("as_of", F.lit("current"))
    return v1.unionByName(cur).orderBy("as_of", "doc_id")


VERSIONED_READ_SQL = """
SELECT doc_id, lang, 'v1' AS as_of FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, lang, 'current' AS as_of FROM documents WHERE doc_id % 3 IN (0, 1)
ORDER BY as_of, doc_id
"""


def versioned_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE on a snapshot-versioned table,
    oracle-checkable end-to-end.

    Build the same two-commit table as ``versioned_read_query``, then
    ``delete_where(lang = 'de')``. The result unions the PRE-delete
    snapshot (time travel to v2) with the POST-delete current read — so
    the hashes prove the delete removed exactly the matching rows from
    the current version while leaving history intact, and the oracle
    reproduces both slices straight from ``documents``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_del/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    vt.write(docs.filter(F.col("doc_id") % 3 == 1), mode="append")
    vt.delete_where(spark, "lang = 'de'")

    pre = vt.read(spark, version=2).withColumn("as_of", F.lit("pre"))
    post = vt.read(spark).withColumn("as_of", F.lit("post"))
    return pre.unionByName(post).orderBy("as_of", "doc_id")


VERSIONED_DELETE_SQL = """
SELECT doc_id, lang, 'pre' AS as_of FROM documents WHERE doc_id % 3 IN (0, 1)
UNION ALL
SELECT doc_id, lang, 'post' AS as_of FROM documents
WHERE doc_id % 3 IN (0, 1) AND lang <> 'de'
ORDER BY as_of, doc_id
"""


def versioned_partition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned versioned table end-to-end: Hive-layout
    ``partitionBy`` write, DYNAMIC PARTITION OVERWRITE of one partition,
    and manifest-level partition pruning — the Delta
    ``partitionBy``/``replaceWhere`` surface the reference's bronze
    tables rely on, oracle-checkable.

    v1 writes ``documents(doc_id, lang, score)`` partitioned by
    ``lang``; v2 overwrites ONLY the ``de`` partition with rescored even
    doc_ids. The result unions three partition-pruned reads —
    post-overwrite ``de`` (proves the partition was replaced),
    post-overwrite ``en`` (proves other partitions were carried by
    reference, byte-identical), and time-travel v1 ``de`` (proves the
    old partition is still readable) — each read touching only its
    partition's files, decided from the manifest with zero file listing.
    The oracle reproduces all three slices straight from ``documents``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.col("doc_id") % 7).alias("score")
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_part/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs, partition_by=("lang",), mode="overwrite")
    vt.write(
        docs.filter((F.col("lang") == "de") & (F.col("doc_id") % 2 == 0))
        .withColumn("score", F.col("score") + 100),
        mode="overwrite_partitions",
    )

    cur_de, _ = vt.read_partitions(spark, {"lang": "de"})
    cur_en, _ = vt.read_partitions(spark, {"lang": "en"})
    v1_de, _ = vt.read_partitions(spark, {"lang": "de"}, version=1)
    out = (
        cur_de.withColumn("as_of", F.lit("cur"))
        .unionByName(cur_en.withColumn("as_of", F.lit("cur")))
        .unionByName(v1_de.withColumn("as_of", F.lit("v1")))
    )
    return out.orderBy("as_of", "lang", "doc_id")


VERSIONED_PARTITION_SQL = """
SELECT doc_id, lang, doc_id % 7 + 100 AS score, 'cur' AS as_of
FROM documents WHERE lang = 'de' AND doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, doc_id % 7 AS score, 'cur' AS as_of
FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id, lang, doc_id % 7 AS score, 'v1' AS as_of
FROM documents WHERE lang = 'de'
ORDER BY as_of, lang, doc_id
"""


def versioned_restore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``RESTORE TABLE ... TO VERSION AS OF`` on a versioned table
    (``VersionedTable.restore``), oracle-checkable end-to-end.

    Build the two-commit table of ``versioned_read_query``, DELETE the
    ``de`` rows (v3), then restore to v2 (v4) — a metadata-only commit
    that re-publishes v2's file list by reference. The result unions the
    POST-restore current read (the delete is undone — every v2 row is
    back) with the pre-restore v3 snapshot (history is intact: restore
    rolls forward, never erases). Both slices reproduce straight from
    ``documents``, so the value hashes prove the rollback restored
    exactly the old content AND kept the rolled-back state readable.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_restore/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    vt.write(docs.filter(F.col("doc_id") % 3 == 1), mode="append")
    vt.delete_where(spark, "lang = 'de'")
    vt.restore(2)

    post = vt.read(spark).withColumn("as_of", F.lit("post_restore"))
    pre = vt.read(spark, version=3).withColumn("as_of", F.lit("deleted"))
    return post.unionByName(pre).orderBy("as_of", "doc_id")


VERSIONED_RESTORE_SQL = """
SELECT doc_id, lang, 'post_restore' AS as_of
FROM documents WHERE doc_id % 3 IN (0, 1)
UNION ALL
SELECT doc_id, lang, 'deleted' AS as_of
FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'de'
ORDER BY as_of, doc_id
"""


def versioned_zorder_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``OPTIMIZE ... ZORDER BY`` on a versioned table
    (``VersionedTable.optimize_zorder``; the reference's silver layer
    calls the platform's OPTIMIZE at
    ``src/silver/silver_demographics.py:93``), oracle-checkable.

    Write ``documents`` with two derived integer axes in a RANDOM
    layout, z-order-rewrite on ``(x, y)``, then ``read_pruned`` a
    narrow ``x`` range off the optimized snapshot. The returned slice
    comes from the REWRITTEN files, so the value hash proves the layout
    rewrite lost/duplicated/changed nothing in that range; ``pruned``
    records that the manifest skipped at least one file (the point of
    the exercise — a z-layout makes min/max skipping effective on both
    axes; the unit suite asserts the per-axis span narrowing).
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") * 2654435761 % 251).alias("x"),
        (F.col("doc_id") * 40503 % 251).alias("y"),
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_zorder/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.repartition(8), stats_cols=("x", "y"))
    vt.optimize_zorder(spark, "x", "y", n_files=8, bits=8)
    got, report = vt.read_pruned(spark, "x", 0, 31)
    return got.withColumn(
        "pruned", F.lit(report["files_skipped"] > 0)
    ).orderBy("doc_id")


VERSIONED_ZORDER_READ_SQL = """
SELECT doc_id,
       doc_id * 2654435761 % 251 AS x,
       doc_id * 40503 % 251 AS y,
       TRUE AS pruned
FROM documents
WHERE doc_id * 2654435761 % 251 BETWEEN 0 AND 31
ORDER BY doc_id
"""


def versioned_changes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots of a versioned table
    (``VersionedTable.changes`` — the Delta CDF analog), oracle-checkable.

    Build: v1 overwrite (``doc_id % 3 == 0``), v2 append
    (``doc_id % 3 == 1``), v3 ``delete_where(lang = 'de')``. The result is
    ``changes(v1, v3)``: every ``% 3 == 1`` row that survived the delete is
    an ``insert``; every ``% 3 == 0`` row with ``lang = 'de'`` is a
    ``delete``; unchanged rows are absent. Because data files are
    immutable, the diff reads only the file-list symmetric difference of
    the two manifests — the oracle reproduces both slices straight from
    ``documents``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_cdf/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    vt.write(docs.filter(F.col("doc_id") % 3 == 1), mode="append")
    vt.delete_where(spark, "lang = 'de'")
    return vt.changes(spark, 1, 3).orderBy("change_type", "doc_id")


VERSIONED_CHANGES_SQL = """
SELECT doc_id, lang, 'insert' AS change_type FROM documents
WHERE doc_id % 3 = 1 AND lang <> 'de'
UNION ALL
SELECT doc_id, lang, 'delete' AS change_type FROM documents
WHERE doc_id % 3 = 0 AND lang = 'de'
ORDER BY change_type, doc_id
"""


def incremental_matview_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate
    (``operators.matview.IncrementalMatView``), oracle-checkable.

    ``orders`` arrives as three deterministic batches
    (``o_orderkey % 3``); each refresh folds one batch's partial
    aggregates into bucket-partitioned state, rewriting only affected
    buckets. The final read must equal a one-shot GROUP BY over all of
    ``orders`` — which is exactly the oracle. Measures stay in exact
    integer space (cents); the average is derived at read time from the
    same IEEE double formula both engines evaluate.
    """
    import shutil

    from ..operators.matview import IncrementalMatView

    orders = read_table(spark, sf_dir, "orders")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_matview/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    mv = IncrementalMatView(
        path=root,
        group_keys=["o_orderstatus", "o_orderpriority"],
        measures={
            "order_count": ("count", ""),
            "total_cents": ("sum", "CAST(round(o_totalprice * 100) AS LONG)"),
            "first_date": ("min", "CAST(o_orderdate AS DATE)"),
            "last_date": ("max", "CAST(o_orderdate AS DATE)"),
        },
        n_buckets=16,
    )
    for i in range(3):
        mv.refresh(orders.filter(F.col("o_orderkey") % 3 == i))
    return (
        mv.read(spark)
        .withColumn(
            "avg_price",
            F.col("total_cents").cast("double")
            / 100.0
            / F.col("order_count"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


INCREMENTAL_MATVIEW_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS order_count,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       min(CAST(o_orderdate AS DATE)) AS first_date,
       max(CAST(o_orderdate AS DATE)) AS last_date,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 / count(*) AS avg_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


def hll_registers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog registers over ``lineitem.l_orderkey``
    (``operators.sketches.hll_sketch``, p=8 -> <=256 registers). The
    oracle reproduces every register bit-for-bit, so the correctness gate
    covers the approximate-distinct path itself, not just its API. The
    estimate derived from these registers is bounded in
    ``tests/test_sketches.py``.
    """
    from ..operators.sketches import hll_sketch

    li = read_table(spark, sf_dir, "lineitem")
    return hll_sketch(li, "l_orderkey", p=8).orderBy("bucket")


def hll_registers_oracle() -> str:
    from ..operators.sketches import hll_oracle_sql

    return hll_oracle_sql("l_orderkey", "lineitem", p=8)


def hll_by_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group approximate-distinct registers: distinct users per
    event type (``operators.sketches.hll_sketch_grouped``, p=6). The
    grouped register state is oracle-exact; the per-group estimates
    derived from it (engine-side, no collect) are bounded in
    ``tests/test_sketches.py``. At 100 TB this replaces shuffling every
    (event_type, user_id) pair with a shuffle of <=64 register rows per
    type."""
    from ..operators.sketches import hll_sketch_grouped
    from ..sources.tables import read_events

    ev = read_events(spark, sf_dir).select("event_type", "user_id")
    return hll_sketch_grouped(ev, ["event_type"], "user_id", p=6).orderBy(
        "event_type", "bucket"
    )


def hll_by_group_oracle() -> str:
    from ..operators.sketches import hll_grouped_oracle_sql

    return hll_grouped_oracle_sql("user_id", "event_type", "events", p=6)


def cms_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequencies (``operators.sketches``): build a
    4x64 sketch of ``orders.o_orderpriority``, then point-query every
    distinct priority. With 5 keys in 64 columns the min-over-rows is
    collision-free, so the estimates equal the exact counts — and the
    oracle recomputes the identical registers and probes.
    """
    from ..operators.sketches import cms_build, cms_point

    orders = read_table(spark, sf_dir, "orders")
    sketch = cms_build(orders, "o_orderpriority", depth=4, width=64)
    keys = orders.select("o_orderpriority").distinct()
    return (
        cms_point(sketch, keys, "o_orderpriority", depth=4, width=64)
        .withColumnRenamed("o_orderpriority", "key")
        .orderBy("key")
    )


def cms_counts_oracle() -> str:
    from ..operators.sketches import cms_point_oracle_sql

    return (
        cms_point_oracle_sql(
            "o_orderpriority",
            "orders",
            "SELECT DISTINCT CAST(o_orderpriority AS VARCHAR) AS k FROM orders",
            depth=4,
            width=64,
        )
        + " ORDER BY key"
    )


def bloom_prefilter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (``operators.bloom``): lineitem
    rows for URGENT orders, with the probe side cut down by a broadcast
    bloom filter BEFORE the exact semi-join. ``exact=True`` means the
    result is identical to the plain semi-join — which is the oracle; the
    bloom stage is a pure scan-side expression whose no-false-negative /
    bounded-false-positive properties are pinned in ``tests/test_bloom.py``.
    """
    from ..operators.bloom import bloom_semi_join
    from ..operators.parallelism import ensure_compute_parallelism

    # the probe filter is k xxhash64 evaluations per row inside the scan
    # stage; a single-file lineitem layout serializes that (and the
    # build-side position explode) onto one core — BENCH_r05 measured
    # cores_used ≈ 1.1 over ~5 s here. The guard is a no-op on any
    # well-laid-out (multi-file) table.
    li = ensure_compute_parallelism(
        read_table(spark, sf_dir, "lineitem")
    )
    # guard AFTER the filter: guarding the raw read would put a
    # round-robin exchange below the priority predicate and destroy
    # its parquet pushdown
    urgent = ensure_compute_parallelism(
        read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
    )
    kept = bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", fp_rate=0.01, exact=True
    )
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


BLOOM_PREFILTER_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def versioned_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (upsert) into a versioned table with file-level
    pruning (``VersionedTable.merge_rows`` — the Delta MERGE INTO
    execution model), oracle-checkable.

    Build a range-clustered table from ``documents``, then upsert a
    source that rewrites ``doc_id % 10 == 3`` rows (lang forced to
    ``'xx'``) and inserts shifted new ids. The result is the post-merge
    current read; the oracle reproduces it straight from ``documents``.
    Only files containing matched keys rewrite — asserted in
    ``tests/test_versioned.py``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_merge/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.repartitionByRange(8, "doc_id"), mode="overwrite")
    source = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang"
    ).unionByName(
        docs.filter(F.col("doc_id") % 10 == 3).withColumn(
            "lang", F.lit("xx")
        )
    )
    vt.merge_rows(spark, source, ["doc_id"])
    return vt.read(spark).orderBy("doc_id")


VERSIONED_MERGE_SQL = """
SELECT doc_id, lang FROM documents WHERE doc_id % 10 <> 3
UNION ALL
SELECT doc_id, 'xx' AS lang FROM documents WHERE doc_id % 10 = 3
UNION ALL
SELECT doc_id + 1000000 AS doc_id, lang FROM documents
WHERE doc_id % 10 = 3
ORDER BY doc_id
"""


def versioned_skip_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping end-to-end: write ``documents`` as a
    range-clustered versioned table with per-file min/max stats on
    ``doc_id``, then ``read_pruned`` a doc_id range. The oracle is the
    plain slice of ``documents`` — equality proves pruning lost no rows;
    the skipping itself (files_read << files_total) is asserted in
    ``tests/test_versioned.py``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_skip/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(
        docs.repartitionByRange(8, "doc_id"),
        mode="overwrite",
        stats_cols=("doc_id",),
    )
    lo, hi = 100, 199
    pruned, _report = vt.read_pruned(spark, "doc_id", lo, hi)
    return pruned.orderBy("doc_id")


VERSIONED_SKIP_READ_SQL = """
SELECT doc_id, lang FROM documents
WHERE doc_id BETWEEN 100 AND 199
ORDER BY doc_id
"""


def streaming_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming pipeline with a TABLE sink, driver-
    oracle-checked against the batch ``plans.analytics.sessionize`` SQL:

    events parquet → ``readStream`` (availableNow trigger) →
    ``session_window`` aggregation (complete mode: the finite input means
    every session in state is emitted) → ``foreachBatch`` overwrite into a
    parquet table → read the table back → per-user session numbering.

    The streaming stage reproduces the batch gap semantics exactly
    (``streaming.events.streaming_sessionize``; equality-to-batch is also
    pinned in tests/test_streaming.py) — this entry adds the driver-facing
    proof: the sink table's content hashes identically to the batch
    oracle. foreachBatch-overwrite is idempotent under micro-batch replay,
    the production guarantee for at-least-once sinks."""
    import shutil

    from ..streaming.events import (
        finish_sessionize,
        stream_events_from_dir,
        streaming_sessionize,
    )

    root = stream_scratch_dir("spark_graft_stream_sess_")
    # file stream sources require a DIRECTORY (landing-zone model); stage
    # the events file into one, as a producer would land it
    landing = f"{root}/landing"
    import os

    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    sessions = streaming_sessionize(
        stream, gap="30 minutes", watermark="1 hour"
    )
    out_dir = f"{root}/sessions"

    def _apply(batch: DataFrame, batch_id: int) -> None:
        # complete mode: each micro-batch carries the FULL session state,
        # so overwrite lands the final answer whatever the batch count
        batch.write.mode("overwrite").parquet(out_dir)

    q = (
        sessions.writeStream.outputMode("complete")
        .foreachBatch(_apply)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return finish_sessionize(spark.read.parquet(out_dir))


# --------------------------------------------------------------------------
# Declarative expectations (round-6 operator, first driver surface here)
# --------------------------------------------------------------------------

# Rule exprs are engine-portable SQL: F.expr on the Spark side, inlined
# verbatim into the DuckDB twin. Names are identifiers (enforced by
# operators.expectations._check_rule_names).
ORDER_EXPECTATIONS = {
    "key_positive": "o_orderkey > 0",
    "status_domain": "o_orderstatus IN ('O','F','P')",
    "date_present": "o_orderdate IS NOT NULL",
    "priority_domain": (
        "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',"
        "'4-NOT SPECIFIED','5-LOW')"
    ),
    "price_under_200k": "o_totalprice < 200000",
}


def expectations_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT-style expectations audit over ``orders``: per-rule violation
    counts + integer pass rate, ONE scan (every rule folds into a single
    global aggregate — map-side partial, rule-count-sized result). The
    ``price_under_200k`` rule is deliberately tight so the entry verifies
    real violations, not a vacuous all-pass."""
    from ..operators.expectations import audit

    orders = read_table(spark, sf_dir, "orders")
    return audit(orders, ORDER_EXPECTATIONS)


def quarantine_rows_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine split over ``orders``: the dirty rows with their
    comma-joined sorted failed-rule names. Pure projection + filter (no
    shuffle); the oracle recomputes ``failed_rules`` with the same
    NULL-skipping ``concat_ws`` DuckDB shares."""
    from ..operators.expectations import quarantine

    orders = read_table(spark, sf_dir, "orders")
    _clean, dirty = quarantine(orders, ORDER_EXPECTATIONS)
    return dirty.select("o_orderkey", "failed_rules").orderBy("o_orderkey")


QUARANTINE_ROWS_SQL = """
SELECT o_orderkey, failed_rules FROM (
  SELECT o_orderkey,
         concat_ws(',',
           CASE WHEN NOT coalesce((o_orderdate IS NOT NULL), false)
                THEN 'date_present' END,
           CASE WHEN NOT coalesce((o_orderkey > 0), false)
                THEN 'key_positive' END,
           CASE WHEN NOT coalesce((o_totalprice < 200000), false)
                THEN 'price_under_200k' END,
           CASE WHEN NOT coalesce((o_orderpriority IN ('1-URGENT','2-HIGH',
                '3-MEDIUM','4-NOT SPECIFIED','5-LOW')), false)
                THEN 'priority_domain' END,
           CASE WHEN NOT coalesce((o_orderstatus IN ('O','F','P')), false)
                THEN 'status_domain' END
         ) AS failed_rules
  FROM orders
)
WHERE failed_rules <> ''
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# Systematic weighted sampling (distributed exact prefix sum)
# --------------------------------------------------------------------------


def systematic_sample_query(
    spark: SparkSession, sf_dir: str, step: int = 2000
) -> DataFrame:
    """Deterministic weighted corpus sample: every document whose
    cumulative-``n_chars`` interval crosses a multiple of ``step``. The
    running total comes from the bucketed two-phase prefix sum
    (``operators/sampling.py:prefix_sum`` — no corpus-wide single-partition
    window); the oracle's plain ``sum() OVER`` is the same exact int64
    answer through a different physical plan, which is the point."""
    from ..operators.sampling import systematic_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return systematic_sample(docs, "n_chars", step, "doc_id").orderBy("doc_id")


SYSTEMATIC_SAMPLE_DOC_SQL = """
WITH cum AS (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_total
  FROM documents
)
SELECT * FROM cum
WHERE (running_total + {step}) // {step}
      > (running_total - n_chars + {step}) // {step}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# --------------------------------------------------------------------------


def triangle_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the supplier->customer co-purchase
    graph (same edge definition as the ``pagerank`` entry: lineitem x
    orders). Supplier and customer key ranges overlap numerically, which
    makes the undirected simple graph genuinely non-bipartite — triangles
    exist and exercise the degree-ordered orientation
    (``operators/graph.py:triangle_counts``): out-degrees bounded
    O(sqrt(m)), so the wedge join never explodes on the high-degree
    supplier hubs that would kill the naive neighbors-squared join at
    100 TB."""
    from ..operators.graph import triangle_counts

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    return triangle_counts(edges)


TRIANGLE_EDGES_SQL = (
    "SELECT l_suppkey AS src, o_custkey AS dst "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)


# --------------------------------------------------------------------------
# Bucketed co-located join (the 100 TB large x large join strategy)
# --------------------------------------------------------------------------


def bucketed_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star schema's one large x large join (lineitem x orders on
    orderkey) through BUCKETED tables: both sides written
    ``bucketBy(8, orderkey)`` + ``sortBy``, so the sort-merge join reads
    co-located, pre-sorted buckets — no shuffle exchange on either input
    (the plan property is pinned in ``tests/test_bucketing.py``; this
    entry adds the driver-facing correctness surface). At 100 TB this is
    THE strategy for repeated fact-to-fact joins: the shuffle is paid
    once at write time and amortized over every subsequent join.

    The join is hinted ``merge`` so the plan exercises the bucketed
    sort-merge path even where sf0.01 statistics would pick a broadcast.
    """
    import shutil
    from urllib.parse import urlparse

    from ..sources.catalog import ensure_schemas

    ensure_schemas(spark)
    # a managed table's LOCATION can survive from a previous session whose
    # in-memory metastore is gone; saveAsTable then refuses the name. Drop
    # both the catalog entry and any orphaned location.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("li_bucketed_entry", "ord_bucketed_entry"):
        spark.sql(f"DROP TABLE IF EXISTS silver.{t}")
        shutil.rmtree(f"{wh}/silver.db/{t}", ignore_errors=True)
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("silver.li_bucketed_entry")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("silver.ord_bucketed_entry")
    )
    lib = spark.table("silver.li_bucketed_entry")
    ordb = spark.table("silver.ord_bucketed_entry")
    return (
        lib.hint("merge")
        .join(ordb, lib.l_orderkey == ordb.o_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("o_orderstatus", "l_returnflag")
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderstatus, l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus, l_returnflag
ORDER BY o_orderstatus, l_returnflag
"""


def streaming_attribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WATERMARKED STREAM-STREAM JOIN with a table sink,
    driver-oracle-checked against the equivalent batch range join:

    events parquet → ``readStream`` → split into click / purchase streams
    → ``streaming.joins.attribute_purchases`` (watermarks + time-range
    condition = bounded state) → append-mode parquet sink
    (``availableNow``) → read back. Inner-join pairs emit as they match,
    so the finite input loses nothing to the watermark and the sink's
    content hashes identically to the batch join — the strongest
    correctness statement the repo makes about stream-stream state
    management."""
    import os
    import shutil

    from pyspark.sql import functions as F  # noqa: F811

    from ..streaming.events import stream_events_from_dir
    from ..streaming.joins import attribute_purchases

    root = stream_scratch_dir("spark_graft_stream_attr_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    joined = attribute_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    out_dir = f"{root}/pairs"
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).orderBy("click_id", "purchase_id")


STREAMING_ATTRIBUTION_SQL = """
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       CAST(round(p.value * 100) AS BIGINT) AS value_cents
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY click_id, purchase_id
"""


def streaming_versioned_ingest_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion into an ACID table, end-to-end: a file-source
    stream lands in a PARTITIONED VersionedTable through the
    exactly-once sink (``streaming.versioned_sink``), a batch replay is
    then attempted and SKIPPED by the txn watermark, and the result is a
    partition-pruned aggregate off the table. ``replay_skipped`` bakes
    the idempotence proof into the hashed result; everything else the
    oracle recomputes from ``events`` directly. This is the reference's
    Delta streaming-ingest surface (stream → ACID table → pruned reads)
    on the manifest-log format."""
    import os
    import shutil

    from ..sources.versioned import VersionedTable
    from ..streaming.events import stream_events_from_dir
    from ..streaming.versioned_sink import (
        idempotent_append,
        stream_to_versioned,
    )

    root = stream_scratch_dir("spark_graft_stream_vt_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    q = stream_to_versioned(
        stream,
        f"{root}/vt",
        checkpoint_dir=f"{root}/ckpt",
        partition_by=("event_type",),
        query_name="versioned_ingest",
    )
    q.processAllAvailable()
    q.stop()

    vt = VersionedTable(f"{root}/vt")
    # at-least-once delivery simulated: batch 0 arrives again; the txn
    # watermark (>= 0 after the run) must reject it without a commit
    replay = idempotent_append(vt, vt.read(spark), 0)
    pruned, _ = vt.read_partitions(
        spark, {"event_type": ["click", "purchase"]}
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .withColumn("replay_skipped", F.lit(replay is None))
        .orderBy("event_type")
    )


STREAMING_VERSIONED_INGEST_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       TRUE AS replay_skipped
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
ORDER BY event_type
"""


def versioned_bloom_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index file skipping end-to-end: write ``documents`` as a
    HASH-distributed versioned table (every file spans the full doc_id
    range — min/max stats cannot prune) with a per-file bloom index on
    ``doc_id``, then point-lookup a set of ids through
    ``read_bloom_pruned``. The oracle is the plain filter on
    ``documents`` — equality proves the index never loses a row (no
    false negatives); the skipping itself is asserted in
    ``tests/test_versioned.py``.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_bloom/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(
        docs.repartition(8, "doc_id"),
        mode="overwrite",
        bloom_cols=("doc_id",),
    )
    frames = [
        vt.read_bloom_pruned(spark, "doc_id", probe)[0]
        for probe in (7, 42, 123, 321)
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("doc_id")


VERSIONED_BLOOM_READ_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id IN (7, 42, 123, 321)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Product quantization (compressed-domain ANN)
# --------------------------------------------------------------------------

# Fixed synthetic query for the PQ search entry: the oracle SQL is a
# static string, so the query must be data-independent; this pattern is
# deterministic and exercises all 64 dims with distinct values.
PQ_QUERY = [((i * 37) % 100) / 100.0 for i in range(64)]
# iters=1 for the driver/bench surface: the correctness statement (codes
# and ADC sums bit-exact vs independently-derived SQL codebooks) is
# iteration-count-independent, and each extra Lloyd round costs a full
# assign+update job chain per subspace (~2s wall at sf0.1) without
# changing what the oracle proves. Production tuning raises iters.
PQ_PARAMS = {"m_sub": 8, "k": 16, "iters": 1, "dims": 64}


def _pq_models(spark: SparkSession, sf_dir: str):
    from ..operators.pq import pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    return emb, pq_train(emb, **PQ_PARAMS)


def pq_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes for the whole corpus: 8 subspace codebooks (integer-exact
    Lloyd), nearest-centroid indexes packed base-16 into one int64 per
    vector — 256 bytes of floats compressed to 8. Codes are bit-exact
    against the oracle's independently-derived SQL codebooks, which
    verifies the entire train→slice→assign→pack pipeline."""
    from ..operators.pq import pq_encode

    emb, models = _pq_models(spark, sf_dir)
    return pq_encode(emb, models, dims=PQ_PARAMS["dims"]).orderBy("vec_id")


def pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN search: top-10 by asymmetric distance
    computation over the PQ codes (m_sub literal-table lookups per
    document, no float math, no decompression)."""
    from ..operators.pq import pq_encode, pq_topk

    emb, models = _pq_models(spark, sf_dir)
    codes = pq_encode(emb, models, dims=PQ_PARAMS["dims"])
    return pq_topk(codes, models, PQ_QUERY, topk=10)


def pq_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of PQ-ADC search vs exact quantized-L2 top-5
    for 8 md5-sampled corpus queries — the quality gauge for the
    compressed index, with every number (sampled queries, both rank
    lists, the recall integers) re-derived by the oracle."""
    from ..operators.pq import pq_recall

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_recall(emb, n_queries=8, topk=5, **PQ_PARAMS)


def versioned_mor_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level DELETE (Iceberg position-delete / Delta
    deletion-vector analog), oracle-checkable end-to-end.

    Same two-commit table as ``versioned_delete_query``, but the delete
    commits a TOMBSTONE file and leaves every data file in place; the
    read path anti-joins the tombstones. The result unions the
    PRE-delete snapshot (time travel) with the POST-delete current read,
    and every row carries ``metadata_only`` — computed from the actual
    manifests as "the delete commit changed NO data file" — which the
    oracle asserts as TRUE: if the MOR path ever started rewriting data
    files, the hash would fail, not just a doc note.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_mor/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    vt.write(docs.filter(F.col("doc_id") % 3 == 1), mode="append")
    res = vt.delete_where(spark, "lang = 'de'", mode="mor")
    pre_files = [f["path"] for f in vt.snapshot(2).files]
    post_files = [f["path"] for f in vt.snapshot(res["version"]).files]
    metadata_only = (
        pre_files == post_files and res["files_rewritten"] == 0
    )
    pre = vt.read(spark, version=2).withColumn("as_of", F.lit("pre"))
    post = vt.read(spark).withColumn("as_of", F.lit("post"))
    return (
        pre.unionByName(post)
        .withColumn("metadata_only", F.lit(metadata_only))
        .orderBy("as_of", "doc_id")
    )


VERSIONED_MOR_DELETE_SQL = """
SELECT doc_id, lang, 'pre' AS as_of, TRUE AS metadata_only
FROM documents WHERE doc_id % 3 IN (0, 1)
UNION ALL
SELECT doc_id, lang, 'post' AS as_of, TRUE AS metadata_only
FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'de'
ORDER BY as_of, doc_id
"""


def versioned_rename_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column RENAME (Iceberg column-mapping analog),
    oracle-checkable end-to-end: v1 writes ``(doc_id, lang)``, the
    rename commits ``lang -> language`` WITHOUT touching any data file,
    v3 appends rows that carry ``language`` physically — so the final
    read coalesces the two physical generations under one logical name.
    Every row carries ``metadata_only`` computed from the actual
    manifests (rename changed no data file); the oracle asserts TRUE.
    """
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_ren/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    v1 = vt.write(docs.filter(F.col("doc_id") % 3 == 0), mode="overwrite")
    v2 = vt.rename_column("lang", "language")
    vt.write(
        docs.filter(F.col("doc_id") % 3 == 1).withColumnRenamed(
            "lang", "language"
        ),
        mode="append",
    )
    metadata_only = [f["path"] for f in vt.snapshot(v1).files] == [
        f["path"] for f in vt.snapshot(v2).files
    ]
    return (
        vt.read(spark)
        .withColumn("metadata_only", F.lit(metadata_only))
        .orderBy("doc_id")
    )


VERSIONED_RENAME_READ_SQL = """
SELECT doc_id, lang AS language, TRUE AS metadata_only
FROM documents WHERE doc_id % 3 IN (0, 1)
ORDER BY doc_id
"""


def pyds_pushdown_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource end-to-end: write ``documents`` as a
    range-clustered versioned table with per-file doc_id stats, register
    the ``versioned_py`` format, and read a doc_id range back THROUGH
    ``spark.read.format(...)`` — Catalyst pushes the range filters into
    the Python reader (``pushFilters``), which skips non-overlapping
    files from the manifest stats before any task launches. The oracle
    is the plain slice of ``documents``: equality proves pushdown-
    driven skipping lost no rows (file-count assertions live in
    ``tests/test_pyds.py``)."""
    import shutil

    from ..sources.pyds import register
    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_pyds/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(
        docs.repartitionByRange(8, "doc_id"),
        mode="overwrite",
        stats_cols=("doc_id",),
    )
    register(spark)
    out = (
        spark.read.format("versioned_py")
        .option("path", root)
        .load()
        .where((F.col("doc_id") >= 200) & (F.col("doc_id") <= 399))
        .orderBy("doc_id")
    )
    return out


PYDS_PUSHDOWN_READ_SQL = """
SELECT doc_id, lang FROM documents
WHERE doc_id BETWEEN 200 AND 399
ORDER BY doc_id
"""


def pyds_write_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource WRITER end-to-end: ``df.write.format(
    "versioned_py")`` commits two snapshots (append + append) through
    the exclusive-link manifest protocol with parquet-footer file
    stats, and the same format reads the result back. Oracle: the
    plain union slice of ``documents`` — proving executor-staged Arrow
    writes + driver-side commit lose and duplicate nothing."""
    import shutil

    from ..sources.pyds import register

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_pyds_write/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    register(spark)
    (
        docs.where(F.col("doc_id") < 250)
        .write.format("versioned_py")
        .option("stats_cols", "doc_id")
        .mode("append")
        .save(root)
    )
    (
        docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 500))
        .write.format("versioned_py")
        .option("stats_cols", "doc_id")
        .mode("append")
        .save(root)
    )
    return (
        spark.read.format("versioned_py")
        .option("path", root)
        .load()
        .orderBy("doc_id")
    )


PYDS_WRITE_READ_SQL = """
SELECT doc_id, lang FROM documents
WHERE doc_id < 500
ORDER BY doc_id
"""


def pyds_stream_tail_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource STREAMING source end-to-end: two committed
    snapshots are tailed by ``spark.readStream.format("versioned_py")``
    (offsets = snapshot versions, one file-grain input partition per
    added file) into a parquet sink with an availableNow trigger; the
    sink is read back and ordered. Oracle: the plain slice — the
    version-offset protocol must deliver every committed row exactly
    once."""
    import shutil

    from ..sources.pyds import register
    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_pyds_stream/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(docs.where(F.col("doc_id") < 150), mode="overwrite")
    vt.write(
        docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
        mode="append",
    )
    register(spark)
    sink = f"{root}/_sink"
    q = (
        spark.readStream.format("versioned_py")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", f"{sink}/out")
        .option("checkpointLocation", f"{sink}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(f"{sink}/out").orderBy("doc_id")


PYDS_STREAM_TAIL_SQL = """
SELECT doc_id, lang FROM documents
WHERE doc_id < 300
ORDER BY doc_id
"""


def streaming_stateful_totals_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-facing proof of the CUSTOM stateful streaming operator
    (``applyInPandasWithState``): events stream through per-user group
    state (running event count + exact cents total), update-mode
    emissions land in a parquet sink via foreachBatch-append, and the
    final state per user — the emission with the highest running count,
    well-defined whatever the micro-batch boundaries, since the count
    is strictly increasing — must hash-match the batch GROUP BY oracle.
    The kernel keeps integer cents in state (no float accumulation
    drift) and divides once on emit, so the doubles agree cross-engine.
    """
    import os
    import shutil

    from pyspark.sql.window import Window

    from ..streaming.events import (
        stateful_user_totals,
        stream_events_from_dir,
    )

    root = stream_scratch_dir("spark_graft_stream_state_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    totals = stateful_user_totals(stream)
    out_dir = f"{root}/totals"

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_dir)

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(_apply)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .orderBy("user_id")
    )


STREAMING_STATEFUL_TOTALS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def streaming_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: watermarked stream-stream inner join (purchase →
    preceding-30-min same-user clicks), run end-to-end — landing dir →
    two readStream sides → time-range join → APPEND-mode parquet sink
    (the only output mode stream-stream inner joins support) → read
    back. With availableNow over one landed file both sides arrive in
    the first micro-batch, so the emitted set equals the batch join —
    which is precisely what ``STREAMING_JOIN_SQL`` hash-checks."""
    import os
    import shutil

    from ..streaming.events import (
        stream_events_from_dir,
        streaming_click_purchase_join,
    )

    root = stream_scratch_dir("spark_graft_stream_join_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    joined = streaming_click_purchase_join(stream)
    out_dir = f"{root}/joined"
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).orderBy(
        "purchase_id", "click_id"
    )


STREAMING_JOIN_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, c.click_id, p.user_id,
       date_diff('second', date_trunc('second', c.click_ts),
                 date_trunc('second', p.purchase_ts)) AS delta_s
FROM p JOIN c ON p.user_id = c.user_id
 AND c.click_ts <= p.purchase_ts
 AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
ORDER BY purchase_id, click_id
"""


def asof_nearest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click event: the user's NEAREST purchase in event time,
    either direction (``as_of_join(direction='nearest')`` — the pandas
    ``merge_asof`` parity surface). The purchase side is deduplicated to
    one row per (user, ts) first so the nearest match is unique and the
    LATERAL oracle deterministic."""
    from ..operators.asof import as_of_join
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    return as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["pvalue"],
        direction="nearest",
    ).orderBy("user_id", "event_id")


ASOF_NEAREST_SQL = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT l.user_id, l.event_id, l.ts, l.value,
       r.pvalue AS pvalue_asof, r.ts AS ts_asof
FROM (SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'click') l
LEFT JOIN LATERAL (
  SELECT pvalue, ts FROM p
  WHERE p.user_id = l.user_id
  ORDER BY abs(date_diff('microsecond', l.ts, p.ts)), p.ts
  LIMIT 1
) r ON true
ORDER BY l.user_id, l.event_id
"""


def versioned_evolve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION end-to-end (Iceberg parity): v1 writes
    the even-doc half partitioned by ``lang``; v2 is the metadata-only
    ``evolve_partition_spec(["source"])``; v3 appends the odd-doc half —
    laid out under the NEW spec while v1's files keep their old
    directories. The result unions two pruned reads over the mixed-
    generation table: by the LIVE column (``source`` — old-generation
    files scanned with a residual filter, new ones manifest-pruned) and
    by the HISTORIC column (``lang`` — the reverse). Value hashes prove
    both prunes stay exact across layout generations."""
    import shutil

    from ..sources.versioned import VersionedTable

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_versioned_evolve/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(
        docs.filter(F.col("doc_id") % 2 == 0), partition_by=("lang",)
    )
    vt.evolve_partition_spec(["source"])
    vt.write(docs.filter(F.col("doc_id") % 2 == 1), mode="append")

    by_live, _ = vt.read_partitions(spark, {"source": "src3"})
    by_historic, _ = vt.read_partitions(spark, {"lang": "de"})
    out = by_live.withColumn("pruned_by", F.lit("source")).unionByName(
        by_historic.withColumn("pruned_by", F.lit("lang"))
    )
    return out.orderBy("pruned_by", "doc_id")


VERSIONED_EVOLVE_SQL = """
SELECT doc_id, lang, source, 'lang' AS pruned_by
FROM documents WHERE lang = 'de'
UNION ALL
SELECT doc_id, lang, source, 'source' AS pruned_by
FROM documents WHERE source = 'src3'
ORDER BY pruned_by, doc_id
"""


def streaming_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup end-to-end: the landing directory gets
    the SAME events file landed twice (the classic at-least-once
    producer failure), the stream processes one file per micro-batch
    (``maxFilesPerTrigger=1``), and ``dropDuplicatesWithinWatermark``
    must suppress the second batch's rows via dedup STATE carried
    across micro-batches — not intra-batch distinct. The sink equals
    the single-copy events table (the oracle), which also proves
    idempotent re-landing: a replayed file changes nothing."""
    import os
    import shutil

    from ..streaming.events import stream_events_from_dir, streaming_dedup

    root = stream_scratch_dir("spark_graft_stream_dedup_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/batch-0.parquet")
    stage_events(sf_dir, f"{landing}/batch-1.parquet")
    stream = stream_events_from_dir(spark, landing)
    # the generous watermark keeps every key's state alive across both
    # batches of this finite replay (they share one event-time range)
    deduped = streaming_dedup(stream, keys=("event_id",), watermark="365 days")
    out_dir = f"{root}/deduped"
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_trunc("second", "ts").alias("ts_s"),
        )
        .orderBy("event_id")
    )


STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       date_trunc('second', ts) AS ts_s
FROM events
ORDER BY event_id
"""


def streaming_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join: the events stream joined to the
    static customer dimension (user_id -> c_custkey) — the standard
    micro-batch dimension lookup. Stream-static inner joins need no
    watermark and keep NO join state: each micro-batch probes the
    static side, which Spark broadcasts when small — exactly the 100 TB
    deployment shape (fact stream x broadcast dim). Aggregated to
    per-segment counts + exact cents to keep the sink tiny; equality to
    the batch join is the oracle."""
    import os
    import shutil

    from ..streaming.events import stream_events_from_dir

    root = stream_scratch_dir("spark_graft_stream_enrich_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "c_mktsegment",
        "event_type",
        F.round(F.coalesce("value", F.lit(0.0)) * 100)
        .cast("long")
        .alias("cents"),
    )
    out_dir = f"{root}/enriched"
    q = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


STREAMING_ENRICH_SQL = """
SELECT c.c_mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(coalesce(e.value, 0) * 100) AS BIGINT))
            AS BIGINT) AS cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY c_mktsegment, event_type
"""


def streaming_scd2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 end-to-end, driver-oracle-checked against the
    batch scenario: the ``scd2_scenario`` change batches land as two
    files in a stream (initial snapshot, then the 2024-06-01 changes),
    ``scd2_streaming_sink`` merges one micro-batch per file through the
    SAME batch engine (operators.scd2 via foreachBatch), and the
    resulting dimension table must hash-equal the batch SCD2 oracle —
    the equality-to-batch contract as a driver gate, not just a test.
    File order is pinned via modification times (the file source
    processes oldest-first)."""
    import os
    import shutil
    import time as _time

    from ..streaming.scd2 import scd2_streaming_sink

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal").cast("long").alias("bal"),
    )
    src_mod = base.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    src_new = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        F.lit("NEWSEG").alias("c_mktsegment"),
        "bal",
    )
    root = stream_scratch_dir("spark_graft_stream_scd2_")
    landing = f"{root}/landing"
    base.coalesce(1).write.parquet(f"{landing}/.stage0")
    src_mod.unionByName(src_new).coalesce(1).write.parquet(
        f"{landing}/.stage1"
    )
    for i in (0, 1):
        stage = f"{landing}/.stage{i}"
        part = next(
            p for p in os.listdir(stage) if p.endswith(".parquet")
        )
        os.replace(f"{stage}/{part}", f"{landing}/batch-{i}.parquet")
        shutil.rmtree(stage, ignore_errors=True)
        # the file source processes oldest-mtime-first: pin the order
        os.utime(f"{landing}/batch-{i}.parquet", (1000000 + i, 1000000 + i))

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    table = f"scd2_stream_dim_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog resets across sessions but the managed-table
    # directory persists; a stale location fails the CREATE with
    # LOCATION_ALREADY_EXISTS (same pitfall tests/conftest.py documents)
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = scd2_streaming_sink(
        stream,
        table,
        business_keys=["c_custkey"],
        tracked_cols=["c_name", "c_mktsegment", "bal"],
        effective_date_for_batch=lambda b: (
            "2024-01-01" if b == 0 else "2024-06-01"
        ),
        checkpoint_dir=f"{root}/ckpt",
        query_name="scd2_stream_entry",
    )
    q.processAllAvailable()
    q.stop()
    _time.sleep(0)  # keep flake8-style linters quiet about unused import
    return spark.table(table).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "bal",
        "effective_date",
        "end_date",
        "is_current",
    ).orderBy("c_custkey", "effective_date")


def scd2_event_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup — the query SCD2 EXISTS FOR: enrich
    each event with the dimension attributes VALID AT ITS EVENT TIME,
    via the bucketed point-in-interval range join (operators.ranges)
    against the version validity windows [effective_ts, end_ts).

    The dimension: customers whose segment changes on 2024-01-15
    (custkey % 3 == 0 -> 'PROMOTED'), built through the real SCD2 merge
    engine so validity windows come from the operator, not hand-crafted
    rows. Events before the change enrich with the original segment,
    later ones with the new segment — aggregated to exact-cents totals
    per (segment, half) so the hash proves the time-variant join,
    version by version. Half-open semantics: an event AT the change
    instant belongs to the NEW version (end_ts is exclusive via an
    epsilon pullback on the closed-interval range join).
    """
    from ..operators.ranges import range_join
    from ..operators.scd2 import scd2_initial_load, scd2_merge

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dim0 = scd2_initial_load(
        base, ["c_custkey"], ["c_mktsegment"], "2024-01-01"
    )
    changed = base.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("PROMOTED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    dim = scd2_merge(
        dim0, changed, ["c_custkey"], ["c_mktsegment"], "2024-01-15"
    )
    # validity windows as timestamps; open current versions run to a
    # far-future sentinel; end is exclusive -> pull back 1 microsecond
    # for the closed-interval range join
    windows = dim.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("effective_date").cast("timestamp").alias("valid_from"),
        (
            F.coalesce(
                F.col("end_date").cast("timestamp"),
                F.lit("2100-01-01").cast("timestamp"),
            )
            - F.expr("INTERVAL 1 MICROSECOND")
        ).alias("valid_to"),
    )
    from ..sources.tables import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.round(F.coalesce("value", F.lit(0.0)) * 100)
        .cast("long")
        .alias("cents"),
    )
    joined = range_join(
        ev,
        windows,
        point="ts",
        start="valid_from",
        end="valid_to",
        on=["user_id"],
        bin_width=86400 * 32,
    )
    return (
        joined.groupBy(
            "segment",
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            .cast("int")
            .alias("after_change"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("segment", "after_change")
    )


SCD2_EVENT_ENRICH_SQL = """
WITH ev AS (
  SELECT user_id, ts,
         CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents,
         CAST(ts >= TIMESTAMP '2024-01-15 00:00:00' AS INT)
           AS after_change
  FROM events
), dim AS (
  SELECT c_custkey AS user_id,
         CASE WHEN c_custkey % 3 = 0 THEN 'PROMOTED'
              ELSE c_mktsegment END AS seg_new,
         c_mktsegment AS seg_old
  FROM customer
)
SELECT CASE WHEN e.after_change = 1 THEN d.seg_new ELSE d.seg_old END
         AS segment,
       e.after_change,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(e.cents) AS BIGINT) AS cents
FROM ev e JOIN dim d USING (user_id)
GROUP BY 1, 2
ORDER BY segment, after_change
"""


def cdc_apply_seq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequenced CDC replay (DLT APPLY CHANGES ... SEQUENCE BY parity)
    end-to-end: an out-of-order, at-least-once feed — per-key winners
    by sequence, a stale update that must lose to the stored sequence,
    deletes, and brand-new keys — applied onto a versioned table via
    ``apply_cdc``, then the final state hash-checked against a plain
    SQL reconstruction. Precedence inside the feed: the %17 delete
    (seq 5) beats the %10 update (seq 2) for keys in both classes."""
    import shutil

    from ..sources.versioned import VersionedTable

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    root = f"/tmp/spark_graft_cdc_apply/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(root)
    vt.write(orders.withColumn("_seq", F.lit(0).cast("long")))

    k = F.col("k")
    upd = orders.where(k % 10 == 0).select(
        "k",
        F.lit("RUSHED").alias("prio"),
        (F.col("cents") + 1).alias("cents"),
        F.lit(2).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    decoy = orders.where(k % 10 == 0).select(
        "k",
        F.lit("DECOY").alias("prio"),
        (F.col("cents") + 2).alias("cents"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    dels = orders.where(k % 17 == 0).select(
        "k",
        F.lit("X").alias("prio"),
        F.lit(0).cast("long").alias("cents"),
        F.lit(5).cast("long").alias("seq"),
        F.lit("D").alias("op"),
    )
    stale = orders.where(k % 19 == 0).select(
        "k",
        F.lit("STALE").alias("prio"),
        (F.col("cents") + 3).alias("cents"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    new = orders.where(k % 13 == 0).select(
        (k + 1000000).alias("k"),
        F.lit("NEWKEY").alias("prio"),
        F.col("cents").alias("cents"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    feed = upd.unionByName(decoy).unionByName(dels).unionByName(
        stale
    ).unionByName(new)
    vt.apply_cdc(spark, feed, ["k"], "seq")
    return vt.read(spark).select("k", "prio", "cents", "_seq").orderBy("k")


CDC_APPLY_SEQ_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT k,
       CASE WHEN k % 10 = 0 THEN 'RUSHED' ELSE prio END AS prio,
       CASE WHEN k % 10 = 0 THEN cents + 1 ELSE cents END AS cents,
       CAST(CASE WHEN k % 10 = 0 THEN 2 ELSE 0 END AS BIGINT) AS _seq
FROM base WHERE k % 17 <> 0
UNION ALL
SELECT k + 1000000 AS k, 'NEWKEY' AS prio, cents,
       CAST(1 AS BIGINT) AS _seq
FROM base WHERE k % 13 = 0
ORDER BY k
"""


def streaming_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-items: tumbling daily windows of event-type
    counts maintained by Structured Streaming state, finished with a
    top-k pass over the (bounded) window frame — the "what's hot today"
    dashboard feed.

    events parquet -> readStream (availableNow) -> watermarked 1-day
    ``window()`` counts per event type (``windowed_event_aggregate``) ->
    foreachBatch overwrite sink (complete mode: the finite replay emits
    every window's final state; overwrite keeps the sink idempotent
    under micro-batch replay) -> read back -> row_number <= k per day
    over the days x types frame (bounded: |days| * |event types| rows,
    never the event stream). Oracle: the identical batch GROUP BY +
    window rank."""
    import os
    import shutil

    from ..streaming.events import (
        stream_events_from_dir,
        windowed_event_aggregate,
    )

    root = stream_scratch_dir("spark_graft_stream_topk_")
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    stage_events(sf_dir, f"{landing}/part-0.parquet")
    stream = stream_events_from_dir(spark, landing)
    agg = windowed_event_aggregate(
        stream, window="1 day", watermark="1 hour"
    ).select(
        F.col("window_start").cast("date").alias("day"),
        "event_type",
        "n_events",
    )
    out_dir = f"{root}/topk"

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(_apply)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    sink = spark.read.parquet(out_dir)
    w = Window.partitionBy("day").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("day", "event_type", "n_events", "rk")
        .orderBy("day", "rk")
    )


STREAMING_TOPK_SQL = """
WITH counts AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT day, event_type, n_events,
         CAST(row_number() OVER (
           PARTITION BY day ORDER BY n_events DESC, event_type
         ) AS INTEGER) AS rk
  FROM counts
)
SELECT day, event_type, n_events, rk
FROM ranked WHERE rk <= 2
ORDER BY day, rk
"""
