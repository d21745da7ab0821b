"""Product quantization (PQ) for embedding compression + ADC search.

The third leg of the ANN stack (``operators/similarity.py`` has the
brute-force baseline, IVF cells, and LSH buckets): PQ attacks the
MEMORY side of 100 TB vector search. A 64-dim float vector is 256 bytes;
its PQ code here is ONE int64 — the vector is split into ``m_sub``
subvectors, each quantized to its nearest subspace centroid (a k-means
codebook per subspace), and the centroid indexes are packed into a
single integer. Search then runs over codes via **asymmetric distance
computation** (ADC, Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): the query precomputes one
``k``-entry distance table per subspace, and a document's approximate
distance is the SUM of ``m_sub`` table lookups — no float math per
document, no decompression.

Everything stays in the repo's exact-integer regime so DuckDB reproduces
it bit-for-bit: codebooks come from the integer-exact Lloyd trainer
(``operators/kmeans.py`` — deterministic md5 seeds, integer rounding),
codes are exact argmins, and ADC tables/distances are exact int64. The
oracle unrolls one prefixed k-means CTE chain per subspace over the SAME
sliced input, re-derives the codes, and re-computes the ADC sum.

Scale shape: training is one job per Lloyd round for all subspaces
(``kmeans.lloyd_round``: no shuffle, one m_sub·k·(d_sub+1) integer
partial per partition); encoding is ONE Arrow pass (codebooks ride the
kernel's closure — broadcast-the-model); ADC search is a projection
over the codes frame (tables are literals) + ``orderBy().limit()`` →
TakeOrderedAndProject. Nothing corpus-proportional ever reaches the
driver, and the only shuffle in search is the top-k reduction.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.kernels import map_batches, matrix
from .dedup import _md5_hash64
from .kmeans import kmeans_ctes, nearest_codes, train_codebooks
from .parallelism import ensure_compute_parallelism
from .similarity import QUANT, _quantized

CODE_BASE = 16  # codes packed base-16: requires k <= 16


def pq_train(
    emb: DataFrame,
    m_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    dims: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> np.ndarray:
    """One integer-exact k-means codebook per subspace:
    ``(m_sub, k, d_sub)`` int64, ``models[s, cid]`` the quantized
    centroid. Bounded driver state (m_sub · k · d_sub integers).

    All m_sub trainings share one job per round: ``kmeans.lloyd_round``
    assigns every subspace in the same Arrow pass over the full
    quantized vector. The per-subspace seeds are slices of the SAME k
    rows (the seed order is the md5 hash of the id, independent of the
    subspace), so the math is that of m_sub independent trainings,
    which the per-subspace SQL oracle checks. The quantized corpus is
    persisted for the rounds and unpersisted before returning."""
    if dims % m_sub:
        raise ValueError(f"dims {dims} not divisible by m_sub {m_sub}")
    if k > CODE_BASE:
        raise ValueError(f"k must be <= {CODE_BASE} for base-16 packing")
    q = (
        ensure_compute_parallelism(emb)
        .select(F.col(id_col), _quantized_slice(emb_col, 1, dims).alias("qv"))
        .persist()
    )
    try:
        return train_codebooks(q, k, iters, m_sub, id_col)
    finally:
        q.unpersist()


def _quantized_slice(emb_col: str, start: int, length: int):
    return _quantized(F.slice(F.col(emb_col), start, length))


def pq_encode(
    emb: DataFrame,
    models: np.ndarray,
    dims: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``(id_col, code)`` — each subspace's nearest-centroid index packed
    base-16 into one int64 (``code = Σ cid_s · 16^s``).

    The nearest-centroid kernel is a vectorized numpy Arrow batch, NOT a
    Catalyst expression: the m_sub·k·d_sub literal-expression argmin
    builds a ~4000-node interpreted higher-order-function tree whose
    analysis+codegen alone costs seconds per query and ~1.2 MB task
    binaries, while the numpy batch is one (B, k, d_sub) integer
    broadcast per subspace — the SIMD-batch shape real PQ codecs use.
    Quantization stays JVM-side (``F.round`` half-up), so Python sees
    only exact int64 — no float rounding divergence. Codebooks ride the
    closure (broadcast-the-model); codes remain bit-exact vs the SQL
    oracle's independently derived codebooks."""
    pows = CODE_BASE ** np.arange(len(models), dtype=np.int64)

    def kernel(batch: pa.RecordBatch) -> pa.RecordBatch:
        code = nearest_codes(matrix(batch, "qv"), models) @ pows
        return pa.RecordBatch.from_arrays(
            [batch.column(id_col).cast(pa.int64()), pa.array(code, pa.int64())],
            names=[id_col, "code"],
        )

    q = ensure_compute_parallelism(emb).select(
        F.col(id_col), _quantized_slice(emb_col, 1, dims).alias("qv")
    )
    return map_batches(q, kernel, f"{id_col} long, code long")


def _adc_tables(models: np.ndarray, query: list[float]) -> list[list[int]]:
    """Per-subspace ADC tables: exact squared distance (Python ints) from
    the quantized query slice to every centroid, indexed by cid."""
    m_sub, _, d_sub = models.shape
    qq = np.array([round(x * QUANT) for x in query], dtype=object)
    qq = qq[: m_sub * d_sub].reshape(m_sub, 1, d_sub)
    return ((models.astype(object) - qq) ** 2).sum(axis=2).tolist()


def pq_topk(
    codes: DataFrame,
    models: np.ndarray,
    query: list[float],
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``topk`` ids by ADC distance over the codes frame:
    ``(id_col, adc_dist)``, ties broken by id. The per-document cost is
    ``m_sub`` literal-array lookups — the compressed-domain search that
    makes billion-vector scans RAM-resident."""
    tables = _adc_tables(models, query)
    dist = F.lit(0).cast("long")
    for s, table in enumerate(tables):
        cid_s = (F.col("code") / F.lit(CODE_BASE**s)).cast("long") % F.lit(
            CODE_BASE
        )
        dist = dist + F.element_at(
            F.lit(table), cid_s.cast("int") + F.lit(1)
        ).cast("long")
    return (
        codes.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(topk)
    )


def _subspace_ctes(
    m_sub: int,
    k: int,
    iters: int,
    dims: int,
    table: str,
    id_col: str,
    emb_col: str,
    materialized: bool = False,
) -> tuple[str, str]:
    """(joined CTE text, codes CTE name): one prefixed k-means chain per
    subspace over the sliced embedding + a codes CTE packing the final
    assignments base-16.

    ``materialized=True`` emits ``codes AS MATERIALIZED`` — required when
    the caller's query references ``codes`` (or downstream CTEs) more
    than once: DuckDB inlines plain CTEs per reference, and re-expanding
    the m_sub k-means chains at every site blows the planner up
    (observed: >240 s planning at 500 rows vs 0.4 s materialized)."""
    d_sub = dims // m_sub
    chains = []
    for s in range(m_sub):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        chains.append(
            kmeans_ctes(
                k=k,
                iters=iters,
                dims=d_sub,
                table=table,
                id_col=id_col,
                emb_col=f"{emb_col}[{lo}:{hi}]",
                prefix=f"p{s}_",
            )
        )
    code_sum = " + ".join(
        f"p{s}_a{iters}.cid * {CODE_BASE**s}" for s in range(m_sub)
    )
    joins = f"p0_a{iters}" + "".join(
        f" JOIN p{s}_a{iters} USING ({id_col})" for s in range(1, m_sub)
    )
    mat = "MATERIALIZED " if materialized else ""
    codes = f"""codes AS {mat}(
  SELECT p0_a{iters}.{id_col}, CAST({code_sum} AS BIGINT) AS code
  FROM {joins}
)"""
    return ",\n".join(chains) + ",\n" + codes, "codes"


def pq_encode_oracle_sql(
    m_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of ``pq_encode``: per-subspace k-means chains +
    base-16 packing, bit-for-bit."""
    body, codes = _subspace_ctes(m_sub, k, iters, dims, table, id_col, emb_col)
    return f"""
WITH {body}
SELECT {id_col}, code FROM {codes}
ORDER BY {id_col}
"""


def pq_topk_oracle_sql(
    query: list[float],
    topk: int = 10,
    m_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of ``pq_topk`` over the same training: re-derives the
    codebooks in SQL, builds the ADC tables from the DERIVED centroids
    and the quantized query literal, and sums the table lookups."""
    d_sub = dims // m_sub
    qq = [round(x * QUANT) for x in query]
    body, codes = _subspace_ctes(m_sub, k, iters, dims, table, id_col, emb_col)
    tables = []
    for s in range(m_sub):
        qs = qq[s * d_sub : (s + 1) * d_sub]
        qlist = "[" + ", ".join(str(v) for v in qs) + "]"
        tables.append(
            f"""t{s} AS (
  SELECT cid, list_sum(list_transform(range(1, {d_sub + 1}),
    j -> (cent[j] - ({qlist})[j]) * (cent[j] - ({qlist})[j]))) AS dist
  FROM p{s}_c{iters}
)"""
        )
    dist_sum = " + ".join(f"t{s}.dist" for s in range(m_sub))
    tjoins = "".join(
        f" JOIN t{s} ON t{s}.cid = (codes.code // {CODE_BASE**s}) % {CODE_BASE}"
        for s in range(m_sub)
    )
    return f"""
WITH {body},
{",".join(tables)}
SELECT codes.{id_col}, CAST({dist_sum} AS BIGINT) AS adc_dist
FROM codes{tjoins}
ORDER BY adc_dist, codes.{id_col}
LIMIT {topk}
"""


def pq_recall(
    emb: DataFrame,
    models: np.ndarray | None = None,
    n_queries: int = 8,
    topk: int = 5,
    m_sub: int = 8,
    k: int = 16,
    iters: int = 1,
    dims: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k of PQ-ADC search against exact quantized-L2
    top-k, per query: ``(query_id, n_exact, n_hits, recall_pct)``.

    A compressed index you can't measure is one you can't trust (the
    ``ann_recall`` doctrine, extended to the PQ leg). Queries are the
    ``n_queries`` corpus vectors with the smallest md5 id hash — the
    repo's deterministic sample idiom — so the whole harness, queries
    included, derives from the table and the oracle re-derives every
    number exactly (recall_pct is integer ``hits*100 div n_exact``).

    Both sides exclude the query vector itself (rank over OTHER docs).
    The exact side is a broadcast of n_queries quantized vectors against
    the corpus — the declared verify kernel (sample queries, never
    all-pairs). The ADC side joins the exploded codes against a
    broadcast (query, subspace, cid)->distance table frame
    (n_queries · m_sub · k rows) and sums per (query, doc): the
    compressed-domain path with no per-row float math.
    """
    if models is None:
        models = pq_train(
            emb, m_sub=m_sub, k=k, iters=iters, dims=dims,
            id_col=id_col, emb_col=emb_col,
        )
    m_sub = len(models)
    d_sub = dims // m_sub
    q = ensure_compute_parallelism(emb).select(
        F.col(id_col),
        F.transform(
            F.col(emb_col), lambda x: F.round(x * QUANT).cast("long")
        ).alias("qv"),
    )
    queries = (
        q.select(
            F.col(id_col).alias("query_id"),
            F.col("qv").alias("q_qv"),
            _md5_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "query_id")
        .limit(n_queries)
        .drop("h")
    )
    # exact side: quantized-L2 top-k per query over the other docs
    dist = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    exact = (
        q.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    # ADC side: query ADC tables as a small broadcast frame, joined to
    # the exploded codes
    qrows = queries.collect()  # bounded: n_queries rows
    table_rows = []
    for r in qrows:
        tabs = _adc_tables(
            models, [v / QUANT for v in r["q_qv"]]
        )
        for s, table in enumerate(tabs):
            for cid, d in enumerate(table):
                table_rows.append((r["query_id"], s, cid, d))
    spark = emb.sparkSession
    tables_df = spark.createDataFrame(
        table_rows, "query_id long, s int, cid int, dist long"
    )
    codes = pq_encode(emb, models, dims=dims, id_col=id_col, emb_col=emb_col)
    parts = codes.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    (
                        (F.col("code") / F.lit(CODE_BASE**s)).cast("long")
                        % F.lit(CODE_BASE)
                    ).cast("int")
                    for s in range(m_sub)
                ]
            )
        ).alias("s", "cid"),
    )
    adc = (
        parts.join(F.broadcast(tables_df), ["s", "cid"])
        .groupBy("query_id", id_col)
        .agg(F.sum("dist").alias("adc_dist"))
        .filter(F.col(id_col) != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    approx = (
        adc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= topk)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("(n_hits * 100) div n_exact").alias("recall_pct"),
        )
        .orderBy("query_id")
    )


def pq_recall_oracle_sql(
    n_queries: int = 8,
    topk: int = 5,
    m_sub: int = 8,
    k: int = 16,
    iters: int = 1,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of ``pq_recall`` — every number (sampled queries,
    exact ranks, SQL-derived ADC tables, recall integers) re-derived.

    The shared CTEs (``qall``/``qs``/``codes``/``t{s}``) are emitted
    ``AS MATERIALIZED``: each is referenced from several consumers, and
    DuckDB's default per-reference inlining re-expands the whole k-means
    chain + window at every site — the planner never returns (>240 s at
    500 rows; 0.4 s materialized, identical results)."""
    d_sub = dims // m_sub
    body, codes = _subspace_ctes(
        m_sub, k, iters, dims, table, id_col, emb_col, materialized=True
    )
    tabs = ",\n".join(
        f"""t{s} AS MATERIALIZED (
  SELECT qs.query_id, c.cid,
         list_sum(list_transform(range(1, {d_sub + 1}),
           j -> (c.cent[j] - qs.q_qv[{s * d_sub} + j])
              * (c.cent[j] - qs.q_qv[{s * d_sub} + j]))) AS dist
  FROM p{s}_c{iters} c CROSS JOIN qs
)"""
        for s in range(m_sub)
    )
    tjoins = "".join(
        f" JOIN t{s} ON t{s}.query_id = qs.query_id"
        f" AND t{s}.cid = (codes.code // {CODE_BASE**s}) % {CODE_BASE}"
        for s in range(m_sub)
    )
    dist_sum = " + ".join(f"t{s}.dist" for s in range(m_sub))
    return f"""
WITH {body},
qall AS MATERIALIZED (
  SELECT {id_col}, list_transform({emb_col},
         x -> CAST(round(x * {QUANT}) AS BIGINT)) AS qv
  FROM {table}
),
qs AS MATERIALIZED (
  SELECT {id_col} AS query_id, qv AS q_qv FROM (
    SELECT *, row_number() OVER (ORDER BY
      ('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT,
      {id_col}) AS rn
    FROM qall
  ) WHERE rn <= {n_queries}
),
exact AS (
  SELECT query_id, {id_col} AS neighbor_id FROM (
    SELECT qs.query_id, qall.{id_col},
           row_number() OVER (PARTITION BY qs.query_id ORDER BY
             list_sum(list_transform(range(1, {dims + 1}),
               j -> (qs.q_qv[j] - qall.qv[j]) * (qs.q_qv[j] - qall.qv[j]))),
             qall.{id_col}) AS rn
    FROM qall CROSS JOIN qs
    WHERE qall.{id_col} <> qs.query_id
  ) WHERE rn <= {topk}
),
{tabs},
adc AS (
  SELECT qs.query_id, codes.{id_col}, CAST({dist_sum} AS BIGINT) AS adc_dist
  FROM codes CROSS JOIN qs{tjoins}
  WHERE codes.{id_col} <> qs.query_id
),
approx AS (
  SELECT query_id, {id_col} AS neighbor_id, 1 AS hit FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist, {id_col}) AS rn
    FROM adc
  ) WHERE rn <= {topk}
)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(coalesce(sum(a.hit), 0) AS BIGINT) AS n_hits,
       (CAST(coalesce(sum(a.hit), 0) AS BIGINT) * 100) // count(*)
         AS recall_pct
FROM exact e
LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""
