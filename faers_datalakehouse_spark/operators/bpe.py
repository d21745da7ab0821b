"""BPE tokenizer: distributed trainer + Arrow-batched encoder.

``plans.training_prep`` computes tokenizer *statistics* (vocab, first-
round pair counts); this module closes the loop with an actual byte-pair
-encoding trainer and encoder.

Trainer (the production shape, matching how real BPE trainers work):
iterate over the WORD-FREQUENCY table, not the corpus — each word is a
char-token array carrying its corpus count, so every merge round is
vocabulary-sized regardless of corpus size. Per round: one weighted
pair count (groupBy + partial agg), one 1-row argmax collect (bounded
driver state, like k-means' k rows), one greedy left-to-right merge
applied as a ``F.aggregate`` fold over each word's token array. The
merge list — the trained artifact — is ``n_merges`` driver tuples.

Encoder: applying an ordered merge list to a char sequence is an
inherently sequential per-word scan — the documented Arrow-kernel case
(like SimHash): a ``mapInPandas`` batch kernel, no row-at-a-time UDF.

SQL twins (round 9 — this was the map's last ``no_oracle`` entry): the
trainer round-unrolls as chained DuckDB CTEs (the kmeans/kcenter/sssp
pattern — one argmax CTE + one merge-application CTE per round), and
greedy left-to-right merge application has an exact RELATIONAL form:
encode a token list as the delimited string ``,t1,,t2,,t3,`` (tokens are
[a-z0-9]+, so commas never collide); applying merge (a, b) -> ab is then
``replace(s, ',a,,b,', ',ab,')``. Plain non-overlapping left-to-right
replace IS the sequential fold: the wrapping commas force whole-token
matches (no prefix/suffix false positives), consecutive matches still
fire because adjacent tokens share only one of their two separator
commas, and a fused token cannot re-match as its own left element
because replace resumes scanning after the replacement — exactly the
fold's ``out[-1]`` rule. Unit tests additionally pin fold-vs-Python
parity, detokenization round-trip, and monotone token-count reduction.

Reference: Sennrich et al. 2016 (arXiv:1508.07909), the standard
subword-unit algorithm; merge tie-break here is (count desc, pair asc)
so training is deterministic cross-run and cross-partitioning.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .surprisal import corpus_tokens
from ..sources.tables import read_table


def _chars(word: Column) -> Column:
    """Split a word into its single-character token array."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, 1),
    )


def _apply_merge(toks: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one merge (a, b) -> ab as a
    fold: append each token, or fuse it into the previous one when the
    pair matches. Matches the sequential semantics exactly because the
    fold IS sequential per array."""
    merged = a + b
    return F.aggregate(
        toks,
        F.expr("cast(array() as array<string>)"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (t == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list. Ties break (count desc, pair asc) — deterministic."""
    wf = (
        corpus_tokens(docs, id_col, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("toks", _chars(F.col("word")))
        .select("toks", "cnt")
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n = F.size("toks")
        pairs = F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        top = (
            wf.filter(n >= 2)
            .select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )  # bounded: exactly one row per round
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        wf = wf.select(_apply_merge(F.col("toks"), a, b).alias("toks"), "cnt")
        # fold HOFs evaluate interpreted; checkpoint the (vocab-sized)
        # frame so plan depth stays O(1) across rounds instead of
        # re-evaluating every prior merge each round
        wf = wf.localCheckpoint(eager=True)
    return merges


_NORM_RE = re.compile(r"[^a-z0-9\s]")
_WS_RE = re.compile(r"\s+")


def _py_norm(text: str) -> list[str]:
    """Python mirror of dedup._norm_text tokenization."""
    s = _WS_RE.sub(" ", _NORM_RE.sub(" ", (text or "").lower())).strip()
    return [w for w in s.split(" ") if w]


def _py_apply_merges(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    toks = list(word)
    for a, b in merges:
        out: list[str] = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        toks = out
    return toks


def bpe_encode(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode each document with the trained merges:
    ``(doc_id, n_words, n_tokens, tokens)`` — ``tokens`` is the flat
    subword sequence. Arrow-batched ``mapInPandas`` kernel (ordered
    greedy merging is sequential per word; no SQL form)."""
    frozen = [tuple(m) for m in merges]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, n_words, n_tokens, tokens = [], [], [], []
            for doc_id, text in zip(pdf["_id"], pdf["_text"]):
                words = _py_norm(text)
                toks: list[str] = []
                for w in words:
                    toks.extend(_py_apply_merges(w, frozen))
                ids.append(doc_id)
                n_words.append(len(words))
                n_tokens.append(len(toks))
                tokens.append(toks)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "tokens": tokens,
                }
            )

    return (
        docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        .mapInPandas(
            encode,
            schema="doc_id long, n_words int, n_tokens int, tokens array<string>",
        )
        .orderBy("doc_id")
    )


# -- DuckDB twins ------------------------------------------------------
# Word tokenization in the oracle's canonical two-pass form (keep in
# sync with the other document oracles; Spark's one-pass _norm_text is
# provably equal).
_WORDS_CTE = """
docs_words AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(regexp_replace(
           lower(coalesce(text, '')),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
           w -> w != '') AS words
  FROM documents
)"""

# a word as the delimited token string ",c1,,c2,,c3," (initial tokens =
# single characters)
_WRAP_CHARS = (
    "',' || array_to_string(list_transform("
    "generate_series(1, length(word)), i -> substr(word, i, 1)), ',,')"
    " || ','"
)


def _trainer_ctes(n_merges: int) -> str:
    """Chained CTEs w0 -> (p1, m1, w1) -> ... : wi is the word-frequency
    table after i merges (delimited-string form), mi the i-th merge."""
    parts = [
        f"""wfreq AS MATERIALIZED (
  SELECT w AS word, count(*) AS cnt
  FROM (SELECT unnest(words) AS w FROM docs_words)
  GROUP BY 1
),
w0 AS MATERIALIZED (
  SELECT {_WRAP_CHARS} AS s, cnt FROM wfreq
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
p{i} AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
                           list_slice(toks, 2, len(toks)))) AS pr, cnt
    FROM (SELECT string_split(trim(s, ','), ',,') AS toks, cnt
          FROM w{i - 1})
    WHERE len(toks) >= 2
  )
  GROUP BY 1, 2
),
m{i} AS MATERIALIZED (SELECT a, b FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(s,
           ',' || (SELECT a FROM m{i}) || ',,' || (SELECT b FROM m{i}) || ',',
           ',' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ',') AS s,
         cnt
  FROM w{i - 1}
)"""
        )
    return "".join(parts)


def bpe_merges_oracle_sql(n_merges: int = 10) -> str:
    """DuckDB twin of ``train_bpe_merges``: (step, a, b) ordered."""
    selects = [
        f"SELECT {i} AS step, (SELECT a FROM m{i}) AS a,"
        f" (SELECT b FROM m{i}) AS b"
        for i in range(1, n_merges + 1)
    ]
    return (
        f"WITH {_WORDS_CTE.strip()},\n{_trainer_ctes(n_merges)}\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY step"
    )


def bpe_encode_oracle_sql(n_merges: int = 10) -> str:
    """DuckDB twin of ``train_bpe_merges`` + ``bpe_encode`` end-to-end:
    trains the merge table with the chained CTEs, then encodes every
    document by running the same delimited-string replace chain over each
    word and flattening in document word order. Output matches the
    ``bpe_encode`` driver entry: (doc_id, n_words, n_tokens, tokens) with
    tokens space-joined."""
    # one 1-row frame carrying every merge as pattern/replacement columns
    # (scalar subqueries inside list_transform lambdas are not supported,
    # so the lambda reads plain outer columns from this cross join)
    mcols = ",\n         ".join(
        f"',' || (SELECT a FROM m{i}) || ',,' || (SELECT b FROM m{i})"
        f" || ',' AS pat{i},\n         "
        f"',' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ','"
        f" AS rep{i}"
        for i in range(1, n_merges + 1)
    )
    chain = (
        "',' || array_to_string(list_transform("
        "generate_series(1, length(w)), i -> substr(w, i, 1)), ',,') || ','"
    )
    for i in range(1, n_merges + 1):
        chain = f"replace({chain}, pat{i}, rep{i})"
    return f"""WITH {_WORDS_CTE.strip()},
{_trainer_ctes(n_merges)},
mall AS MATERIALIZED (
  SELECT {mcols}
),
enc AS (
  SELECT doc_id,
         words,
         list_transform(words,
           w -> string_split(trim({chain}, ','), ',,')) AS tw
  FROM docs_words CROSS JOIN mall
)
SELECT doc_id,
       CAST(len(words) AS INT) AS n_words,
       CAST(len(flatten(tw)) AS INT) AS n_tokens,
       array_to_string(flatten(tw), ' ') AS tokens
FROM enc
ORDER BY doc_id
"""


def bpe_fertility(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source tokenizer-fit audit of a trained BPE table:
    ``(source, n_docs, n_words, n_tokens, n_chars, fertility_milli,
    chars_per_token_milli)``.

    Fertility (tokens per word) and compression (chars per token) are
    the two standard "does this tokenizer fit this corpus slice?"
    numbers — a source whose fertility spikes under the corpus-trained
    merges is out-of-domain text the tokenizer fragments (cost: more
    sequence positions per byte at training time). Both ratios are
    exact integer milli divisions of the encode output's counts;
    ``n_chars`` is derived from the token strings themselves so the
    audit needs nothing beyond the encoder's own output.

    Scale shape: one Arrow encode pass (embarrassingly parallel), one
    broadcast-size join to the (doc -> source) map, one map-side-
    combinable rollup to |sources| rows.
    """
    enc = bpe_encode(docs, merges, id_col=id_col, text_col=text_col)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")
    )
    return (
        enc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(
                F.aggregate(
                    "tokens",
                    F.lit(0),
                    lambda acc, t: acc + F.length(t),
                )
            )
            .cast("long")
            .alias("n_chars"),
        )
        .withColumn(
            "fertility_milli",
            F.expr(
                "CASE WHEN n_words > 0 THEN "
                "(1000 * n_tokens) div n_words END"
            ),
        )
        .withColumn(
            "chars_per_token_milli",
            F.expr(
                "CASE WHEN n_tokens > 0 THEN "
                "(1000 * n_chars) div n_tokens END"
            ),
        )
        .orderBy("source")
    )


def bpe_fertility_oracle_sql(n_merges: int = 10) -> str:
    """DuckDB twin of ``train_bpe_merges`` + ``bpe_fertility``: the
    trainer CTE chain, the per-word replace-chain encode, then the
    per-source rollup (same construction as ``bpe_encode_oracle_sql``
    with the source column carried through)."""
    mcols = ",\n         ".join(
        f"',' || (SELECT a FROM m{i}) || ',,' || (SELECT b FROM m{i})"
        f" || ',' AS pat{i},\n         "
        f"',' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ','"
        f" AS rep{i}"
        for i in range(1, n_merges + 1)
    )
    chain = (
        "',' || array_to_string(list_transform("
        "generate_series(1, length(w)), i -> substr(w, i, 1)), ',,') || ','"
    )
    for i in range(1, n_merges + 1):
        chain = f"replace({chain}, pat{i}, rep{i})"
    return f"""WITH {_WORDS_CTE.strip()},
{_trainer_ctes(n_merges)},
mall AS MATERIALIZED (
  SELECT {mcols}
),
src AS (SELECT doc_id, source FROM documents),
enc AS (
  SELECT doc_id,
         words,
         list_transform(words,
           w -> string_split(trim({chain}, ','), ',,')) AS tw
  FROM docs_words CROSS JOIN mall
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(words)) AS BIGINT) AS n_words,
       CAST(sum(len(flatten(tw))) AS BIGINT) AS n_tokens,
       CAST(sum(length(array_to_string(flatten(tw), ''))) AS BIGINT)
         AS n_chars,
       CASE WHEN sum(len(words)) > 0 THEN
         (1000 * CAST(sum(len(flatten(tw))) AS BIGINT))
           // CAST(sum(len(words)) AS BIGINT) END AS fertility_milli,
       CASE WHEN sum(len(flatten(tw))) > 0 THEN
         (1000 * CAST(sum(length(array_to_string(flatten(tw), '')))
                      AS BIGINT))
           // CAST(sum(len(flatten(tw))) AS BIGINT)
       END AS chars_per_token_milli
FROM enc JOIN src USING (doc_id)
GROUP BY source
ORDER BY source
"""


# Session-scoped shared merge table (the shared_lsh_pairs pattern,
# operators/dedup.py): three map entries (bpe_merges, bpe_encode,
# bpe_fertility) train the IDENTICAL 10-round merge list over the
# corpus documents; within one session it is trained once PER CORPUS.
# The cached value is a plain driver-side list (~n_merges tuples) — no
# persist to manage — so unlike the candidate-pair frame we keep a few
# corpora resident (ADVICE r11: a single-slot cache retrains on every
# sf_dir flip in sessions that alternate two scale dirs, e.g. the scale
# probe's base/big interleave). Capped so a pathological many-dir
# session still stays bounded.
_SHARED_MERGES: dict[tuple[str, str, int], list[tuple[str, str]]] = {}
_SHARED_MERGES_CAP = 4


def reset_shared_merges() -> None:
    """Drop every cached merge table (scale-probe cold-run hook)."""
    _SHARED_MERGES.clear()


def shared_bpe_merges(
    spark, sf_dir: str, n_merges: int = 10
) -> list[tuple[str, str]]:
    """The corpus-trained BPE merge list, trained once per
    (session, sf_dir, n_merges)."""
    key = (spark.sparkContext.applicationId, sf_dir, int(n_merges))
    if key not in _SHARED_MERGES:
        docs = read_table(spark, sf_dir, "documents")
        while len(_SHARED_MERGES) >= _SHARED_MERGES_CAP:
            _SHARED_MERGES.pop(next(iter(_SHARED_MERGES)))  # FIFO evict
        _SHARED_MERGES[key] = train_bpe_merges(docs, n_merges=n_merges)
    return _SHARED_MERGES[key]
