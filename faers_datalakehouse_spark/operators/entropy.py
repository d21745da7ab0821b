"""Per-source lexical-diversity audit — Shannon unigram entropy plus
type-token ratio for every corpus source.

Low unigram entropy flags template/boilerplate-heavy sources (the same
tokens over and over); a low type-token ratio flags small effective
vocabularies. Both are standard corpus-mixing diagnostics when
balancing a multi-source training set (complements ``ngram_novelty``'s
*order*-sensitive redundancy curve and ``source_overlap``'s cross-source
containment).

Integer-exact cross-engine: true entropy needs float ``log``; this is
the repo's bit-length idiom (see ``operators/surprisal.py``) —

    H_bits(source) = SUM over words w of
        c_w * (floor(log2(N_s)) - floor(log2(c_w)))   /   N_s

with ``floor(log2(x)) = length(bin(x)) - 1``, exact integers in both
engines. The per-source numerator (``entropy_bits_num``) and token
count are emitted exactly; ``entropy_milli_bits`` is one integer
division. Within 1 bit/token of true Shannon entropy — ample for a
keep/flag curation signal.

Scale shape (100 TB): tokenize map-side (explode, no shuffle), then two
map-side-combinable aggregates — ``groupBy(source, word)`` (output is
vocabulary-sized per source) and ``groupBy(source)`` (output is
|sources| rows). N_s rides the second aggregate; no driver round-trip,
no window over the token stream.

No counterpart in the reference repo (text-curation extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ranking import corpus_tokens
from ..sources.tables import read_table


def _bits(col):
    """floor(log2(x)) for x >= 1, exact: bit length minus one."""
    return (F.length(F.bin(col)) - F.lit(1)).cast("long")


_P31 = 1 << 31
_P62 = 1 << 62
_P93 = 1 << 93


def _bits_big_sql(prod: str) -> str:
    """floor(log2(x)) for a positive DECIMAL(38,0) SQL expression,
    exact to 2^124 — far past the ~2^126 theoretical max of a
    count-product of two BIGINTs at any physical scale.

    ``bin()`` only takes BIGINT, so large inputs are right-shifted
    first: ``bit_length(x div 2^k) = bit_length(x) - k`` exactly for
    ``x >= 2^k`` (integer shift preserves the leading bit position).
    Mirrored verbatim (``//`` / HUGEINT) in the DuckDB twins — the
    ADVICE r9 fix for bit-length arguments overflowing int64 past
    ~3e9 rows."""
    return (
        f"CASE WHEN {prod} < {_P62} THEN "
        f"length(bin(CAST({prod} AS BIGINT))) - 1 "
        f"WHEN {prod} < CAST('{_P93}' AS DECIMAL(38,0)) THEN "
        f"length(bin(CAST({prod} div {_P31} AS BIGINT))) + 30 "
        f"ELSE length(bin(CAST({prod} div {_P62} AS BIGINT))) + 61 "
        f"END"
    )


def source_entropy(docs: DataFrame) -> DataFrame:
    """``(source, n_tokens, n_types, entropy_bits_num,
    entropy_milli_bits, ttr_micro)`` per source, ordered by source.

    ``entropy_milli_bits = 1000 * entropy_bits_num div n_tokens``;
    ``ttr_micro = 1e6 * n_types div n_tokens``.
    """
    # tokenize keyed directly by source (corpus_tokens is generic over
    # the id column) — no join back to the doc table needed
    toks = corpus_tokens(docs, "source", "text").select(
        F.col("id").alias("source"), "word"
    )
    counts = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_source = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * _bits(F.col("c"))).alias("_sum_c_bits"),
    )
    return (
        per_source.select(
            "source",
            "n_tokens",
            "n_types",
            (
                F.col("n_tokens") * _bits(F.col("n_tokens"))
                - F.col("_sum_c_bits")
            ).alias("entropy_bits_num"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "entropy_bits_num",
            F.expr("(1000 * entropy_bits_num) div n_tokens").alias(
                "entropy_milli_bits"
            ),
            F.expr("(1000000 * n_types) div n_tokens").alias("ttr_micro"),
        )
        .orderBy("source")
    )


def source_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_entropy(read_table(spark, sf_dir, "documents"))


SOURCE_ENTROPY_SQL = """
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
per_source AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sum_c_bits
  FROM counts GROUP BY source
)
SELECT source, n_tokens, n_types,
       n_tokens * (length(bin(n_tokens)) - 1) - sum_c_bits
         AS entropy_bits_num,
       (1000 * (n_tokens * (length(bin(n_tokens)) - 1) - sum_c_bits))
         // n_tokens AS entropy_milli_bits,
       (1000000 * n_types) // n_tokens AS ttr_micro
FROM per_source
ORDER BY source
"""


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information between two categorical columns in the
    bit-length approximation — the feature-relevance / redundancy
    measure (Cover & Thomas ch.2): ``MI = sum p(x,y) *
    log2(N*c_xy / (c_x*c_y))``.

    One summary row: ``(n, n_x, n_y, mi_bits_num, mi_milli_bits)``
    where each cell contributes ``c_xy * (floor(log2(c_xy * N)) -
    floor(log2(c_x * c_y)))`` — the ``pmi_collocations`` integer-lift
    idiom, exact in both engines, within 1 bit/row of true MI (signal
    enough to rank feature pairs). ``mi_milli_bits = 1000 *
    mi_bits_num div n``.

    Scale shape: one map-side-combinable ``groupBy(x, y)`` collapses the
    table to the contingency cells; marginals and the total are
    aggregates OF that cell frame (domain-sized) joined back by x and by
    y — never a second scan of the base table.
    """
    cells = df.groupBy(x_col, y_col).agg(
        F.count(F.lit(1)).alias("_cxy")
    )
    mx = cells.groupBy(x_col).agg(F.sum("_cxy").alias("_cx"))
    my = cells.groupBy(y_col).agg(F.sum("_cxy").alias("_cy"))
    tot = cells.agg(
        F.sum("_cxy").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_ncells"),
    )
    j = (
        cells.join(F.broadcast(mx), x_col)
        .join(F.broadcast(my), y_col)
        .crossJoin(F.broadcast(tot))
    )
    # the bit-length arguments are count PRODUCTS (up to n² — int64
    # overflows past ~3e9 rows): form them in DECIMAL(38,0) and take
    # bits via the shift-safe helper (ADVICE r9 item 2)
    pxy = "(CAST(_cxy AS DECIMAL(38,0)) * _n)"
    pm = "(CAST(_cx AS DECIMAL(38,0)) * _cy)"
    contrib = j.select(
        "_n",
        x_col,
        y_col,
        F.expr(
            f"_cxy * (({_bits_big_sql(pxy)}) - ({_bits_big_sql(pm)}))"
        ).alias("_term"),
    )
    return (
        contrib.groupBy()
        .agg(
            F.max("_n").alias("n"),
            F.count_distinct(x_col).cast("long").alias("n_x"),
            F.count_distinct(y_col).cast("long").alias("n_y"),
            F.sum("_term").cast("long").alias("mi_bits_num"),
        )
        .select(
            "n",
            "n_x",
            "n_y",
            "mi_bits_num",
            F.expr("(1000 * mi_bits_num) div n").alias(
                "mi_milli_bits"
            ),
        )
    )


def mutual_information_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MI between a customer's market segment and the priority of their
    orders — "does knowing the segment tell you anything about urgency?"
    (near-zero on independent TPC-H draws; the oracle checks the exact
    integer decomposition, not just the headline)."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderpriority")
    return mutual_information(j, "c_mktsegment", "o_orderpriority")


MUTUAL_INFORMATION_SQL = """
WITH j AS (
  SELECT c_mktsegment AS x, o_orderpriority AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cells AS (
  SELECT x, y, count(*) AS cxy FROM j GROUP BY x, y
),
mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x),
my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y),
tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
contrib AS (
  SELECT n, x, y,
         cxy * (
           (CASE WHEN CAST(cxy AS HUGEINT) * n < 4611686018427387904
                 THEN length(bin(CAST(CAST(cxy AS HUGEINT) * n
                                      AS BIGINT))) - 1
                 WHEN CAST(cxy AS HUGEINT) * n
                      < 9903520314283042199192993792
                 THEN length(bin(CAST(CAST(cxy AS HUGEINT) * n
                      // 2147483648 AS BIGINT))) + 30
                 ELSE length(bin(CAST(CAST(cxy AS HUGEINT) * n
                      // 4611686018427387904 AS BIGINT))) + 61 END)
           -
           (CASE WHEN CAST(cx AS HUGEINT) * cy < 4611686018427387904
                 THEN length(bin(CAST(CAST(cx AS HUGEINT) * cy
                                      AS BIGINT))) - 1
                 WHEN CAST(cx AS HUGEINT) * cy
                      < 9903520314283042199192993792
                 THEN length(bin(CAST(CAST(cx AS HUGEINT) * cy
                      // 2147483648 AS BIGINT))) + 30
                 ELSE length(bin(CAST(CAST(cx AS HUGEINT) * cy
                      // 4611686018427387904 AS BIGINT))) + 61 END)
         ) AS term
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(DISTINCT x) AS BIGINT) AS n_x,
       CAST(count(DISTINCT y) AS BIGINT) AS n_y,
       CAST(sum(term) AS BIGINT) AS mi_bits_num,
       (1000 * CAST(sum(term) AS BIGINT)) // CAST(max(n) AS BIGINT)
         AS mi_milli_bits
FROM contrib
"""
