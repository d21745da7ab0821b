"""Incremental (cross-corpus) deduplication: new batch vs existing corpus.

Continuous ingestion doesn't re-dedup the whole corpus per batch — it
probes the NEW documents against what's already kept. Two layers, the
standard production composition:

- **exact**: drop a new doc whose content hash equals any existing doc's
  (left-anti hash join — at 100 TB the existing side is the big one, so
  the join keys on the 60-bit content hash and shuffles each side once;
  nothing is quadratic and no text moves, only hashes);
- **near**: MinHash band buckets of the new batch equi-joined against the
  existing corpus's band buckets (``signature_bands`` — the SAME
  signatures and buckets the within-corpus self-join uses, so batch and
  full-corpus dedup agree), candidates verified with exact Jaccard on the
  hashed shingle sets. Only the candidate pairs pay verification.

At cluster scale the existing side's band frame is what you'd persist in
the lake between batches (it's append-only); here it's derived in-plan.
Everything is exact integer arithmetic in portable-hash mode, so the full
decision — per new doc, dropped-exact / dropped-near / kept — has a
bit-identical DuckDB twin.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    MERSENNE_P,
    _md5_hash64,
    _minhash_params,
    signature_bands,
)


def incremental_dedup_decisions(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    portable_hash: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """Per-new-doc dedup decision against the existing corpus:
    ``(doc_id, dup_exact, dup_near, keep)`` ordered by doc_id.

    ``dup_exact``: content hash matches an existing doc. ``dup_near``:
    exact Jaccard ≥ ``threshold`` with at least one existing doc sharing a
    MinHash band bucket (exact matches trivially qualify). ``keep`` =
    neither.

    ``normalize``: hash ``_norm_text`` of the text instead of the raw
    bytes — pass True wherever the exact layer must agree with
    ``dedup_exact``'s normalized hashing. Default False preserves the
    raw-byte semantics the DuckDB oracle twin reproduces.
    """
    from .dedup import _norm_text

    def _content(col):
        return _norm_text(col) if normalize else col

    new_hashed = new.select(
        F.col(id_col).alias("doc_id"),
        _md5_hash64(_content(F.col(text_col))).alias("chash"),
    )
    old_hashes = existing.select(
        _md5_hash64(_content(F.col(text_col))).alias("chash")
    ).distinct()
    exact = (
        new_hashed.join(old_hashes, "chash", "left_semi")
        .select("doc_id")
        .withColumn("dup_exact", F.lit(True))
    )

    n_sh, n_bands = signature_bands(
        new,
        id_col=id_col,
        text_col=text_col,
        ngram=ngram,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        materialize=False,
        portable_hash=portable_hash,
    )
    o_sh, o_bands = signature_bands(
        existing,
        id_col=id_col,
        text_col=text_col,
        ngram=ngram,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        materialize=False,
        portable_hash=portable_hash,
    )
    cand = (
        n_bands.alias("x")
        .join(
            o_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(F.col("x.id").alias("new_id"), F.col("y.id").alias("old_id"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    near = (
        cand.join(n_sh.withColumnsRenamed({"id": "new_id", "hashes": "sa"}), "new_id")
        .join(o_sh.withColumnsRenamed({"id": "old_id", "hashes": "sb"}), "old_id")
        .filter(F.round(inter.cast("double") / union, 6) >= threshold)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("dup_near", F.lit(True))
    )

    return (
        new.select(F.col(id_col).alias("doc_id"))
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
            F.coalesce("dup_near", F.lit(False)).alias("dup_near"),
            (
                ~F.coalesce("dup_exact", F.lit(False))
                & ~F.coalesce("dup_near", F.lit(False))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def incremental_dedup_oracle_sql(
    new_pred: str,
    old_pred: str,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB twin over the ``documents`` table split by SQL predicates
    (``new_pred`` / ``old_pred`` select the two corpora). Mirrors the
    portable-hash pipeline: identical shingle hashes, seeded permutations,
    band buckets, cross-frame candidate join, and exact Jaccard."""
    rows = num_hashes // bands
    params = _minhash_params(num_hashes, seed)
    p = MERSENNE_P
    mins = ",\n         ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {p})) AS m{i}"
        for i, (a, b) in enumerate(params)
    )

    def band_rows(src: str) -> str:
        return "\n  UNION ALL\n".join(
            "  SELECT id, {b} AS band, ('0x' || substr(md5({concat}), 1, 15))"
            "::BIGINT AS band_hash FROM {src}".format(
                b=b,
                src=src,
                concat=" || '-' || ".join(
                    f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
                ),
            )
            for b in range(bands)
        )

    return f"""
WITH words_all AS (
  SELECT doc_id AS id, text,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
sh_all AS (
  SELECT id, text,
         list_distinct(list_transform(
           generate_series(1, greatest(len(words) - {ngram - 1}, 1)),
           i -> ('0x' || substr(md5(
                  array_to_string(list_slice(words, i, i + {ngram - 1}), ' ')
                ), 1, 15))::BIGINT % {p})) AS hashes
  FROM words_all
),
sh_new AS (SELECT * FROM sh_all WHERE {new_pred.replace('doc_id', 'id')}),
sh_old AS (SELECT * FROM sh_all WHERE {old_pred.replace('doc_id', 'id')}),
exact AS (
  SELECT DISTINCT n.id AS doc_id
  FROM sh_new n JOIN sh_old o
    ON ('0x' || substr(md5(n.text), 1, 15))::BIGINT
     = ('0x' || substr(md5(o.text), 1, 15))::BIGINT
),
sig_new AS (SELECT id, {mins} FROM sh_new),
sig_old AS (SELECT id, {mins} FROM sh_old),
banded_new AS (
{band_rows('sig_new')}
),
banded_old AS (
{band_rows('sig_old')}
),
cand AS (
  SELECT DISTINCT x.id AS new_id, y.id AS old_id
  FROM banded_new x JOIN banded_old y
    ON x.band = y.band AND x.band_hash = y.band_hash
),
near AS (
  SELECT DISTINCT c.new_id AS doc_id
  FROM cand c JOIN sh_new a ON c.new_id = a.id
              JOIN sh_old b ON c.old_id = b.id
  WHERE round(CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
              / (len(a.hashes) + len(b.hashes)
                 - len(list_intersect(a.hashes, b.hashes))), 6) >= {threshold}
)
SELECT n.id AS doc_id,
       n.id IN (SELECT doc_id FROM exact) AS dup_exact,
       n.id IN (SELECT doc_id FROM near) AS dup_near,
       n.id NOT IN (SELECT doc_id FROM exact)
         AND n.id NOT IN (SELECT doc_id FROM near) AS keep
FROM sh_new n
ORDER BY doc_id
"""


def incremental_sessionize(
    state: DataFrame,
    new_events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Incrementally merge a NEW event batch into a session-state table
    without reprocessing history — the stateful-maintenance twin of
    ``plans.analytics.sessionize``.

    State rows are closed sessions ``(user_id, session_start,
    session_end, n_events, value_c)``; new events enter as degenerate
    intervals ``(ts, ts, 1, cents)``. Untouched users pass through by
    ANTI-join (their history is never rescanned); affected users'
    items gap-merge via one window pass: sorted by (start, end), an
    item opens a new session iff its start exceeds the running max of
    previous ends by MORE than the gap — strictly the same rule as the
    batch operator's consecutive-event test, and provably equal to a
    full recompute: any new point inside a session's span is within
    gap of one of its events (internal gaps are <= gap by
    construction), so interval connectivity == event-chain
    connectivity. Gap-merging is therefore associative over batch
    splits — late-arriving or out-of-order batches converge to the
    same state. Batches must be disjoint from history (at-least-once
    feeds dedup upstream, e.g. ``streaming_dedup``).

    Scale shape: one shuffle of (affected users' sessions + the new
    batch), windows partitioned per user; cost tracks the BATCH's user
    footprint, not table size. Returns the full new state with
    ``session_seq`` renumbered per user by start order.
    """
    from pyspark.sql import Window

    affected = new_events.select("user_id").distinct()
    untouched = state.join(affected, "user_id", "anti")
    old_items = state.join(F.broadcast(affected), "user_id", "semi").select(
        "user_id",
        F.col("session_start").alias("start"),
        F.col("session_end").alias("end"),
        F.col("n_events").cast("long").alias("n"),
        F.col("value_c").cast("long").alias("value_c"),
    )
    new_items = new_events.select(
        "user_id",
        F.col("ts").alias("start"),
        F.col("ts").alias("end"),
        F.lit(1).cast("long").alias("n"),
        F.round(F.coalesce("value", F.lit(0.0)) * 100)
        .cast("long")
        .alias("value_c"),
    )
    items = old_items.unionByName(new_items)
    by_user = Window.partitionBy("user_id").orderBy(
        "start", "end", "value_c"
    )
    prev_max_end = F.max("end").over(
        by_user.rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_us = gap_minutes * 60 * 1_000_000
    brk = F.when(
        prev_max_end.isNull()
        | (F.unix_micros("start") - F.unix_micros(prev_max_end) > gap_us),
        1,
    ).otherwise(0)
    merged = (
        items.withColumn("_brk", brk)
        .withColumn(
            "_sid",
            F.sum("_brk").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "_sid")
        .agg(
            F.min("start").alias("session_start"),
            F.max("end").alias("session_end"),
            F.sum("n").alias("n_events"),
            F.sum("value_c").alias("value_c"),
        )
        .drop("_sid")
    )
    out = untouched.select(
        "user_id", "session_start", "session_end", "n_events", "value_c"
    ).unionByName(merged)
    seq = Window.partitionBy("user_id").orderBy("session_start")
    return out.withColumn(
        "session_seq", F.row_number().over(seq).cast("long")
    ).select(
        "user_id",
        "session_seq",
        "n_events",
        "session_start",
        "session_end",
        "value_c",
    )


def sessionize_state_over(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session-state builder over an events frame (the batch sessionize
    aggregation keeping exact integer cents — the state format
    ``incremental_sessionize`` consumes and produces)."""
    from pyspark.sql import Window

    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user))
    gap_us = gap_minutes * 60 * 1_000_000
    with_ids = events.withColumn(
        "_brk",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0),
    ).withColumn(
        "_sid",
        F.sum("_brk").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_ids.groupBy("user_id", "_sid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(
                F.round(F.coalesce("value", F.lit(0.0)) * 100).cast("long")
            ).alias("value_c"),
        )
        .select(
            "user_id",
            F.col("_sid").cast("long").alias("session_seq"),
            "n_events",
            "session_start",
            "session_end",
            "value_c",
        )
    )


def incremental_sessionize_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry: sessions built from the first 20 days, then the
    remaining days merged INCREMENTALLY — hash-equal to the batch
    sessionize over everything (the shared oracle)."""
    from ..sources.tables import read_events

    ev = read_events(spark, sf_dir)
    cut = F.col("ts") < F.lit("2024-01-21").cast("timestamp")
    state = sessionize_state_over(ev.where(cut))
    out = incremental_sessionize(state, ev.where(~cut))
    return out.select(
        "user_id",
        "session_seq",
        "n_events",
        "session_start",
        "session_end",
        (F.col("value_c").cast("double") / 100.0).alias("session_value"),
    ).orderBy("user_id", "session_seq")
