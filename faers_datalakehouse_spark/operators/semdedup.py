"""SemDeDup-style semantic deduplication (cluster-blocked exact cosine).

The technique from Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (arXiv:2303.09540): k-means the
embedding space, then look for near-duplicate pairs ONLY inside each
cluster — semantically close points land in the same cell, so the O(n²)
pair search collapses to O(Σ cluster_size²) while still catching the
paraphrase-level duplicates that token-hash dedup (MinHash/SimHash) misses.

Spark-first layout:
- blocking = the exact-integer Lloyd of ``operators/kmeans.py`` — one
  Arrow pass per round, centroids ride the kernel's closure
  (broadcast-the-model);
- the pair search is a hash **equi-join on cluster_id** with an ``id_a <
  id_b`` residual — never a cartesian; Catalyst plans a shuffled hash join
  keyed on the cluster, so each task sees one cluster's rows (the classic
  blocked self-join);
- the in-cluster similarity is the same exact quantized-integer cosine the
  verify kernel uses (``similarity.cosine_neardup_pairs``), so the whole
  pipeline — clustering included — is bit-reproducible in DuckDB.

At 100 TB: k scales with the corpus (SemDeDup used 110k clusters for LAION)
keeping clusters bounded; the equi-join shuffles each row once on its
cluster key, and AQE's skew splitting handles an oversized cell. The
quadratic term is per-cluster, which is exactly the knob k controls.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import assign_kernel_frame, kmeans_ctes, train_centroids
from .parallelism import ensure_compute_parallelism
from .similarity import _cosine, _dot, with_quantized_norm


def semantic_neardup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Within-cluster near-duplicate pairs:
    ``(cluster_id, id_a, id_b, cosine)`` ordered by (id_a, id_b).

    Pairs crossing cluster boundaries are *not* reported — that recall loss
    is SemDeDup's deliberate trade for linearity, and callers wanting belt
    and braces union this with the hash-based ``minhash_lsh_pairs``.

    Lifecycle: the quantized corpus ``(id, q_emb, q_norm2)`` is persisted
    here, shared by the Lloyd rounds and the assignment pass, and
    unpersisted here before returning (on error too). The assignment
    (with ``q_emb``/``q_norm2`` carried through) is locally checkpointed
    (eager), so both self-join sides read it without re-running the
    kernel; its blocks live as long as the returned frame does.
    """
    # Train once on the driver (k·dims integers), then compute the cluster
    # id in the SAME Arrow pass that carries q_emb/q_norm2 through —
    # joining a separate kmeans_assign frame back by id would shuffle the
    # corpus on id once per self-join side.
    emb = ensure_compute_parallelism(emb)
    qn = (
        with_quantized_norm(emb.select(id_col, emb_col), emb_col)
        .select(F.col(id_col).alias("id"), "q_emb", "q_norm2")
        .persist()
    )
    try:
        # id_col="id": the shared frame aliases the id; seeding hashes the
        # VALUES, so the seed set (and every centroid) is unchanged
        cents = train_centroids(
            emb, k=k, iters=iters, id_col="id", emb_col=emb_col,
            quantized=qn, qv_col="q_emb",
        )
        e = assign_kernel_frame(
            qn, cents, id_col="id", qv_col="q_emb",
            passthrough=("q_emb", "q_norm2"),
        ).localCheckpoint(eager=True)
    finally:
        qn.unpersist()
    a, b = e.alias("a"), e.alias("b")
    cosine = _cosine(
        _dot(F.col("a.q_emb"), F.col("b.q_emb")),
        F.col("a.q_norm2"),
        F.col("b.q_norm2"),
    )
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.cluster_id").alias("cluster_id"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def semantic_neardup_oracle_sql(
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin: the shared k-means CTE chain, then the identical
    quantized-integer cosine over same-cluster pairs. ``a{iters}.qv`` IS the
    quantized vector, so norms/dots reuse it directly."""
    body = kmeans_ctes(k, iters, dims, table, id_col, emb_col)
    cos = (
        "round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),"
        " p -> p[1] * p[2])) AS DOUBLE)"
        " / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x*x)) AS DOUBLE))"
        " * sqrt(CAST(list_sum(list_transform(b.qv, x -> x*x)) AS DOUBLE))),"
        " 6)"
    )
    return f"""
WITH {body}
SELECT a.cid AS cluster_id,
       a.{id_col} AS id_a,
       b.{id_col} AS id_b,
       {cos} AS cosine
FROM a{iters} a JOIN a{iters} b
  ON a.cid = b.cid AND a.{id_col} < b.{id_col}
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b
"""
