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

Scale shape (per round): one job and no shuffle. Each partition runs the
numpy argmin over its Arrow batches (the centroids ride in the kernel's
closure — the broadcast-the-model pattern) and accumulates per-cluster
sums and counts into one fixed-shape int64 array
(``functions.kernels.partition_sum``). The driver receives one partial per
input partition, m·k·(d+1) int64 (4 KiB for ``kmeans_clusters``: m=1,
k=8, d=64), and adds them as Python ints. PQ trains its m subspace
codebooks in the same pass (``lloyd_round`` takes ``(m, k, d)``
codebooks; k-means is m=1). Rounds are a driver loop, as in Spark MLlib's
own KMeans; ``iters`` is fixed, not convergence-gated, so the oracle can
mirror it as a finite CTE chain.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.kernels import map_batches, matrix, partition_sum
from .dedup import _md5_hash64
from .parallelism import ensure_compute_parallelism
from .similarity import QUANT, _quantized


def _round_half_away(s: int, n: int) -> int:
    """Integer round-half-away-from-zero of s/n (n > 0) — matches the SQL
    twin's ``(2·|s| + n) // (2·n)`` formula exactly."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * -s + n) // (2 * n))


def nearest_cids(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Argmin of exact int64 squared distance of each row of ``X``
    (B, d) to each centroid row of ``C`` (k, d). ``np.argmin``'s
    first-minimum rule IS the tie-to-lowest-cid contract (rows indexed
    by cid).

    Raises ``ArithmeticError`` when a value of ``X`` or ``C`` reaches
    ``isqrt(2**63 // d) // 2`` in magnitude. Below that bound every
    ``|x - c|`` is under twice it, so a distance (d squares) stays under
    2**63, and a partition's per-cluster sum stays in int64 for up to
    2**63 / bound rows (about 4.8e10 at d = 64)."""
    bound = math.isqrt(2**63 // max(X.shape[1], 1)) // 2
    for M in (X, C):
        if M.size and (M.max() >= bound or M.min() <= -bound):
            raise ArithmeticError(
                f"quantized vector value outside ±{bound} (d={X.shape[1]}):"
                " int64 squared distances would overflow"
            )
    D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return D.argmin(axis=1)


def nearest_codes(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(B, m)`` nearest cid per subspace: column s is
    :func:`nearest_cids` of the s-th ``d``-wide slice of ``X`` against
    the codebook ``C[s]`` (``C``: ``(m, k, d)``)."""
    m, _, d = C.shape
    return np.stack(
        [nearest_cids(X[:, s * d : (s + 1) * d], C[s]) for s in range(m)],
        axis=1,
    )


def lloyd_round(q: DataFrame, C: np.ndarray, qv_col: str = "qv") -> np.ndarray:
    """One Lloyd round over the quantized vectors ``q[qv_col]``: codebooks
    ``C`` ``(m, k, d)`` int64 in, the next codebooks out.

    One job, no shuffle: a :func:`partition_sum` of per-(subspace, cid)
    vector sums and counts, ``(m, k, d + 1)``. Each new centroid is the
    exact mean rounded half away from zero in integers; an empty cluster
    keeps its centroid."""
    m, k, d = C.shape

    def stats(batch: pa.RecordBatch) -> np.ndarray:
        X = matrix(batch, qv_col)
        acc = np.zeros((m, k, d + 1), dtype=np.int64)
        for s, cid in enumerate(nearest_codes(X, C).T):
            np.add.at(acc[s, :, :d], cid, X[:, s * d : (s + 1) * d])
            acc[s, :, d] = np.bincount(cid, minlength=k)
        return acc

    tot = partition_sum(q.select(qv_col), stats, (m, k, d + 1))
    out = C.copy()
    for s in range(m):
        for c in range(k):
            n = tot[s, c, d]
            if n:
                out[s, c] = [_round_half_away(v, n) for v in tot[s, c, :d]]
    return out


def train_codebooks(
    q: DataFrame,
    k: int,
    iters: int,
    m_sub: int = 1,
    id_col: str = "vec_id",
    qv_col: str = "qv",
) -> np.ndarray:
    """Seeds plus ``iters`` :func:`lloyd_round` rounds over ``q``
    (``id_col``, ``qv_col``): ``(m_sub, k, d_sub)`` int64 codebooks.
    Every subspace seeds from the same ``k`` rows (smallest md5 id hash),
    codebook s from their s-th ``d_sub``-wide slice."""
    seeds = (
        q.select(
            id_col, qv_col, _md5_hash64(F.col(id_col).cast("string")).alias("h")
        )
        .orderBy("h", id_col)
        .limit(k)
        .collect()
    )  # bounded: k rows
    S = np.array([r[qv_col] for r in seeds], dtype=np.int64)
    d_sub = S.shape[1] // m_sub
    C = S[:, : m_sub * d_sub].reshape(len(S), m_sub, d_sub).transpose(1, 0, 2)
    for _ in range(iters):
        C = lloyd_round(q, C, qv_col)
    return C


def assign_kernel_frame(
    q: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """``(id_col, passthrough..., cluster_id)``: the nearest of the
    ``cents`` ``(k, d)`` centroids for each row of ``q``, one Arrow batch
    at a time — broadcast-the-model as a closure. ``passthrough`` columns
    leave as the same Arrow arrays (no copy), so consumers that need the
    vector alongside the assignment (SemDeDup's self-join) avoid a
    corpus-wide join-back on id."""
    schema = StructType(
        [StructField(id_col, LongType())]
        + [q.schema[c] for c in passthrough]
        + [StructField("cluster_id", LongType())]
    )

    def kernel(batch: pa.RecordBatch) -> pa.RecordBatch:
        cid = nearest_cids(matrix(batch, qv_col), cents)
        return pa.RecordBatch.from_arrays(
            [batch.column(id_col).cast(pa.int64())]
            + [batch.column(c) for c in passthrough]
            + [pa.array(cid, pa.int64())],
            names=schema.names,
        )

    return map_batches(q, kernel, schema)


def train_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    quantized: DataFrame | None = None,
    qv_col: str = "qv",
) -> np.ndarray:
    """Run ``iters`` Lloyd rounds from deterministic seeds and return the
    trained model: the ``(k, d)`` int64 centroids indexed by cid — k·d
    driver integers, the bounded state ``assign_kernel_frame`` takes.

    ``quantized``: a persisted frame with ``id_col`` and ``qv_col`` = the
    QUANT-quantized vector. Callers that also need the quantized corpus
    for their own assignment pass (``kmeans_assign``, SemDeDup) share ONE
    quantize projection + cache. The caller owns that frame: it persists
    it and unpersists it after its last consumer. With ``quantized=None``
    this function persists its own quantized copy and unpersists it
    before returning, on error too."""
    if quantized is not None:
        return train_codebooks(quantized, k, iters, 1, id_col, qv_col)[0]
    q = (
        ensure_compute_parallelism(emb)
        .select(F.col(id_col), _quantized(F.col(emb_col)).alias("qv"))
        .persist()
    )
    try:
        return train_codebooks(q, k, iters, 1, id_col)[0]
    finally:
        q.unpersist()


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

    The quantized corpus is persisted for the rounds and the assignment
    pass and unpersisted before returning (on error too). The returned
    frame is the assignment, locally checkpointed (eager): its consumers
    re-read it without re-running the kernel, and its blocks live as long
    as the frame does."""
    q = (
        ensure_compute_parallelism(emb)
        .select(F.col(id_col), _quantized(F.col(emb_col)).alias("qv"))
        .persist()
    )
    try:
        cents = train_centroids(
            emb, k=k, iters=iters, id_col=id_col, emb_col=emb_col, quantized=q
        )
        return assign_kernel_frame(q, cents, id_col=id_col).localCheckpoint(
            eager=True
        )
    finally:
        q.unpersist()


def kmeans_lite(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``kmeans_assign`` plus cluster sizes:
    ``(id_col, cluster_id, cluster_size)`` ordered by id. Sizes come from a
    k-row aggregate of the checkpointed assignment broadcast back onto it —
    never a window over the corpus partitioned by the k hot cluster keys,
    and never a second run of the assignment kernel.
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
