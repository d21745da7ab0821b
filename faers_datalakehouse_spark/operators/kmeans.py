"""Exact-arithmetic mini-batchless k-means (Lloyd) over embedding columns.

The iterative-algorithm showcase: k-means is the canonical "Spark can do
ML-shaped loops" workload (semantic dedup, corpus clustering, IVF centroid
training all reduce to it). The layout keeps EVERYTHING exact integer
arithmetic so a fixed number of Lloyd rounds is bit-reproducible in DuckDB:

- Vectors are quantized once (``round(x * 1000)`` → int64 — the same QUANT
  contract the ANN oracles already prove cross-engine).
- Seeds are the ``k`` rows with the smallest md5-int64 id hash (the repo's
  shared-vocabulary hash): deterministic, sample-like, engine-portable.
- Assignment = argmin of exact integer squared distance, ties to the lowest
  centroid id.
- Centroid update rounds the exact rational mean to an integer with
  round-half-away-from-zero computed IN INTEGERS
  (``sign · (2·|S| + n) // (2·n)``) — no float mean, no banker's rounding
  mismatch. Empty clusters keep their previous centroid.

Scale shape (per round): one codegen'd projection for assignment (centroids
ride along as literals — k·dims integers, the classic broadcast-the-model
pattern), then ``posexplode → groupBy (cluster, dim)`` whose partial
aggregation reduces the shuffle to k·dims rows regardless of corpus size.
Driver state is k·dims integers per round — same bounded-collect contract as
the IVF centroid sample (``similarity.py``). Rounds are a driver loop, as in
Spark MLlib's own KMeans; ``iters`` is fixed, not convergence-gated, so the
oracle can mirror it as a finite CTE chain.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _md5_hash64
from .parallelism import ensure_compute_parallelism
from .similarity import QUANT


def _quantized(col: Column) -> Column:
    return F.transform(col, lambda x: F.round(x * QUANT).cast("long"))


def _round_half_away(s: int, n: int) -> int:
    """Integer round-half-away-from-zero of s/n (n > 0) — matches the SQL
    twin's ``(2·|s| + n) // (2·n)`` formula exactly."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * -s + n) // (2 * n))


def assign_expr(cents: list[tuple[int, list[int]]], qv: Column) -> Column:
    """Nearest-centroid id for a quantized-vector column (exact integer
    distances, ties to the lowest cid). Centroids are expression literals —
    the broadcast-the-model pattern; pure projection, no join, no shuffle,
    so callers (SemDeDup blocking, IVF routing) can compute the cluster id
    inline wherever the vector is already in hand."""
    import numpy as np

    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        qv,
                        # a 1-D int64 ndarray is ONE array<bigint> literal;
                        # F.lit(list) expands to array(lit(x), ...), a
                        # literal Column per dim
                        F.lit(np.asarray(vec, dtype=np.int64)),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid, vec in cents
        ]
    )
    # array_min on struct<dist,cid> = lexicographic (dist, then cid) argmin
    return F.array_min(scored)["cid"]


def _assign(q: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    return q.withColumn("cid", assign_expr(cents, F.col("qv")))


def cents_np(cents: list[tuple[int, list[int]]]):
    """Centroids as an int64 ndarray ``(k, d)`` indexed by cid."""
    import numpy as np

    C = np.zeros((len(cents), len(cents[0][1])), dtype=np.int64)
    for cid, vec in cents:
        C[cid] = vec
    return C


def nearest_cids(X, C):
    """Argmin of exact int64 squared distance of each row of ``X``
    (B, d) to each centroid row of ``C`` (k, d). ``np.argmin``'s
    first-minimum rule IS the tie-to-lowest-cid contract (rows indexed
    by cid) — identical semantics to :func:`assign_expr`, which remains
    the codegen-inline variant for composing WITHIN a larger projection
    (IVF routing); the numpy kernel is the batch path (the k·d literal
    expression tree costs seconds of Catalyst analysis per query at
    k·d ≳ 500, while the numpy broadcast is one vectorized op)."""
    D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return D.argmin(axis=1)


def assign_kernel_frame(
    q: DataFrame,
    cents: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    qv_col: str = "qv",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """``(id_col, passthrough..., cluster_id)`` via a vectorized numpy
    Arrow batch — broadcast-the-model as a closure instead of a literal
    expression tree. ``passthrough`` columns ride the Arrow batch so
    consumers that need the vector alongside the assignment (SemDeDup's
    self-join) avoid a corpus-wide join-back on id."""
    import numpy as np
    import pandas as pd

    C = cents_np(cents)
    out_schema = ", ".join(
        [f"{id_col} long"]
        + [f"{c} {q.schema[c].dataType.simpleString()}" for c in passthrough]
        + ["cluster_id long"]
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[qv_col].to_numpy())
            out = {id_col: pdf[id_col]}
            for c in passthrough:
                out[c] = pdf[c]
            out["cluster_id"] = nearest_cids(X, C).astype(np.int64)
            yield pd.DataFrame(out)

    return q.mapInPandas(kernel, schema=out_schema)


def train_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    quantized: DataFrame | None = None,
    qv_col: str = "qv",
) -> list[tuple[int, list[int]]]:
    """Run ``iters`` Lloyd rounds from deterministic seeds and return the
    trained model: ``[(cid, quantized centroid vector)]`` — k·dims driver
    integers, the bounded state callers turn into an ``assign_expr``.

    ``quantized``: a caller-held (persisted) frame with ``id_col`` and
    ``qv_col`` = the QUANT-quantized vector. Callers that also need the
    quantized corpus for their own assignment pass (``kmeans_assign``,
    SemDeDup) share ONE quantize projection + cache instead of training
    on a second scan-and-quantize of the corpus; the persist/unpersist
    lifecycle is then theirs (guide §5 multi-consumer persist)."""
    own = quantized is None
    if own:
        emb = ensure_compute_parallelism(emb)
        q = emb.select(
            F.col(id_col), _quantized(F.col(emb_col)).alias("qv")
        ).persist()
    else:
        q = quantized.select(F.col(id_col), F.col(qv_col).alias("qv"))
    seeds = (
        q.select(
            id_col, "qv", _md5_hash64(F.col(id_col).cast("string")).alias("h")
        )
        .orderBy("h", id_col)
        .limit(k)
        .collect()
    )  # bounded: k rows
    cents = [(i, list(r["qv"])) for i, r in enumerate(seeds)]
    dims = len(cents[0][1])

    import numpy as np
    import pandas as pd

    for _ in range(iters):
        # Lloyd statistics via a numpy Arrow kernel: each batch emits
        # per-cid partial sums/counts (a map-side combine in numpy), so
        # the shuffle carries at most batches·k rows and the collect is
        # k rows of (d+1) integers — same bound as before, without the
        # k·d literal-expression assignment tree whose Catalyst
        # analysis+codegen dominated wall time (see nearest_cids)
        C = cents_np(cents)

        def stats_kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["qv"].to_numpy())
                cid = nearest_cids(X, C)
                out_c, out_sum, out_n = [], [], []
                for c in range(len(cents)):
                    mask = cid == c
                    n = int(mask.sum())
                    if n:
                        out_c.append(c)
                        out_sum.append(X[mask].sum(axis=0).tolist())
                        out_n.append(n)
                yield pd.DataFrame(
                    {"cid": out_c, "vsum": out_sum, "n": out_n}
                )

        sums = (
            q.mapInPandas(
                stats_kernel, schema="cid long, vsum array<long>, n long"
            )
            .groupBy("cid")
            .agg(
                # one parsed expression, not dims F.sum(F.element_at(...))
                # Column trees (~24 JVM round trips per dim)
                F.expr(
                    "array("
                    + ", ".join(f"sum(vsum[{i}])" for i in range(dims))
                    + ") AS vsum"
                ),
                F.sum("n").alias("n"),
            )
            .collect()
        )  # bounded: k rows
        by_cid: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_cid[r["cid"]] = list(r["vsum"])
            counts[r["cid"]] = r["n"]
        cents = [
            (
                cid,
                [_round_half_away(s, counts[cid]) for s in by_cid[cid]]
                if cid in by_cid  # empty cluster keeps its previous centroid
                else vec,
            )
            for cid, vec in cents
        ]
    if own:
        q.unpersist()
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``iters`` Lloyd rounds from deterministic seeds; returns the raw
    assignment ``(id_col, cluster_id)``, unordered — the composable core
    (SemDeDup blocking, IVF-style routing) without the size rollup.

    ``cluster_id`` is the seed index (0..k-1), NOT a row id.
    """
    # ONE quantize pass + cache for training AND assignment: the train
    # rounds and the final assign kernel all read the persisted frame
    # (before: training quantized its own copy, then the assign pass
    # re-scanned and re-quantized the corpus). Run-internal cache, same
    # policy as the minhash/allpairs frames (bench clearCache per run).
    q = (
        ensure_compute_parallelism(emb)
        .select(F.col(id_col), _quantized(F.col(emb_col)).alias("qv"))
        .persist()
    )
    cents = train_centroids(
        emb, k=k, iters=iters, id_col=id_col, emb_col=emb_col, quantized=q
    )
    return assign_kernel_frame(q, cents, id_col=id_col)


def kmeans_lite(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``kmeans_assign`` plus cluster sizes:
    ``(id_col, cluster_id, cluster_size)`` ordered by id. Sizes come from a
    k-row aggregate broadcast back onto the assignment — never a window
    over the corpus partitioned by the k hot cluster keys.
    """
    final = kmeans_assign(emb, k=k, iters=iters, id_col=id_col, emb_col=emb_col)
    sizes = final.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return final.join(F.broadcast(sizes), "cluster_id").select(
        id_col, "cluster_id", "cluster_size"
    ).orderBy(id_col)


def kmeans_ctes(
    k: int = 8,
    iters: int = 2,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    prefix: str = "",
) -> str:
    """DuckDB CTE chain mirroring ``kmeans_assign`` exactly — the same
    seeds, distances, argmin tiebreak, and integer centroid rounding,
    unrolled round by round (c0 → a0 → c1 → a1 → …). The final CTE
    ``{prefix}a{iters}`` holds the assignment ``(id_col, qv, cid)``;
    composing oracles (kmeans_clusters, semantic_neardup, pq) append
    their own CTEs. ``prefix`` namespaces every CTE so multiple chains
    (one per PQ subspace) can coexist in a single WITH. ``emb_col`` may
    be any list-valued SQL expression (e.g. a slice ``embedding[1:8]``)."""
    p = prefix
    rha = (
        "CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n) "
        "ELSE -((2 * (-s) + n) // (2 * n)) END"
    )
    parts = [
        f"""{p}q AS (
  SELECT {id_col}, list_transform({emb_col},
         x -> CAST(round(x * {QUANT}) AS BIGINT)) AS qv
  FROM {table}
),
{p}c0 AS (
  SELECT rn - 1 AS cid, qv AS cent FROM (
    SELECT qv, row_number() OVER (ORDER BY
      ('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT,
      {id_col}) AS rn
    FROM {p}q
  ) WHERE rn <= {k}
)"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""{p}d{i} AS (
  SELECT q.{id_col}, q.qv, c.cid,
         list_sum(list_transform(range(1, {dims + 1}),
           j -> (q.qv[j] - c.cent[j]) * (q.qv[j] - c.cent[j]))) AS dist
  FROM {p}q q CROSS JOIN {p}c{i} c
),
{p}a{i} AS (
  SELECT {id_col}, qv, cid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {id_col} ORDER BY dist, cid) AS rn
    FROM {p}d{i}
  ) WHERE rn = 1
)"""
        )
        if i == iters:
            break
        parts.append(
            f"""{p}s{i} AS (
  SELECT cid, j, sum(qv[j]) AS s, count(*) AS n
  FROM {p}a{i} CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS j) dd
  GROUP BY cid, j
),
{p}u{i} AS (
  SELECT cid, list({rha} ORDER BY j) AS cent FROM {p}s{i} GROUP BY cid
),
{p}c{i + 1} AS (
  SELECT p.cid, coalesce(u.cent, p.cent) AS cent
  FROM {p}c{i} p LEFT JOIN {p}u{i} u USING (cid)
)"""
        )
    return ",\n".join(parts)


def kmeans_oracle_sql(
    k: int = 8,
    iters: int = 2,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of ``kmeans_lite`` (assignment + cluster sizes)."""
    body = kmeans_ctes(k, iters, dims, table, id_col, emb_col)
    return f"""
WITH {body}
SELECT a.{id_col},
       a.cid AS cluster_id,
       n.cluster_size
FROM a{iters} a
JOIN (SELECT cid, count(*) AS cluster_size FROM a{iters} GROUP BY cid) n
  USING (cid)
ORDER BY a.{id_col}
"""
