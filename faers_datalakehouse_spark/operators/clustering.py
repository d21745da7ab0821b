"""Connected components over candidate-pair graphs (dedup clustering).

Pair generators (MinHash LSH, SimHash, embedding LSH) emit *edges*; a real
dedup pipeline must then group edges into clusters and keep one canonical
document per cluster — transitively: if A~B and B~C, all three are one
cluster even though (A, C) was never a candidate pair.

Spark-first layout: iterative **min-label propagation** expressed as joins —
each round every node adopts the smallest label among itself and its
neighbors; fixpoint = connected components, with each component labeled by
its smallest node id (deterministic, integer-only → oracle-checkable via a
recursive CTE).

Scale notes (100 TB corpus → billions of candidate edges):
- Rounds needed = graph diameter. Near-dup graphs are dense, low-diameter
  clusters (typically ≤ 3 hops), so propagation converges in a handful of
  rounds; the pathological long-chain case is bounded by ``max_iter``. For
  adversarial graphs the O(log n)-round alternating large-star/small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce", SOCC'14)
  drops in behind the same signature.
- Each round is one join + one groupBy, both hashed on the node id — AQE
  coalesces and each round eagerly ``localCheckpoint``s so round N+1 starts
  from a materialized, lineage-truncated round N (plain ``persist`` caches
  data but leaves the logical plan growing ~4x/round — driver re-analysis
  then dominates within 3 rounds). The convergence probe is a single scalar
  aggregate (sum of labels, monotone non-increasing), not a driver-side
  collect of the labels.

No counterpart in the reference (LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum node id
    of its component. Returns ``(node, component)`` for nodes that appear in
    at least one edge (callers union in singletons if they need them).

    Node ids must be integral (labels are compared with ``least``).
    Raises if propagation has not converged after ``max_iter`` rounds.
    """
    # Iterative rounds MUST truncate lineage, not just cache data: each
    # round references the previous frame several times, so the logical
    # plan grows ~4x per round and Catalyst re-analysis becomes the
    # bottleneck within ~3 rounds (measured: 4 s -> 27 s -> minutes).
    # localCheckpoint (eager) materializes AND cuts the plan to an RDD
    # scan — the standard pattern for iterative graph algorithms on Spark
    # (GraphX/GraphFrames checkpoint periodically for the same reason).
    # On a cluster with dynamic allocation, use a reliable
    # ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` instead:
    # localCheckpoint blocks die with their executor. Note also that
    # checkpoint blocks are NOT freed by ``unpersist()`` (verified —
    # PERF.md); they release when the ContextCleaner GCs the RDD. Frontier
    # frames here are |nodes|-sized, so rounds retain bounded storage; a
    # reliable-checkpoint deployment sets
    # ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to reap
    # the files.
    # both orientations in ONE pass over ``edges`` (explode, r12): the
    # self-union form executed the upstream edge subtree once per branch
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("ed")
        )
        .select("ed.a", "ed.b")
        .distinct()
        .localCheckpoint()
    )
    # Monotone convergence probe: every round can only lower labels, so the
    # label sum is strictly decreasing until fixpoint. decimal(38) keeps the
    # probe overflow-free for 64-bit ids at any node count. The probe rides
    # the checkpoint job itself via ``observe`` (r12): the eager
    # localCheckpoint already materializes every row, so a CollectMetrics
    # node on the pre-checkpoint plan collects the sum for free — the
    # separate per-round probe job (a full pass over the labels frame at
    # cluster scale) is gone. Verified: observations fire on eager
    # localCheckpoint in Spark 4.1 (tests/test_advice_r12.py class of
    # pins; test_clustering_probe_rides_checkpoint).
    obs0 = Observation()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .observe(obs0, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
        .localCheckpoint()
    )
    prev_sum = obs0.get["s"]

    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und["a"] == labels["node"])
            .select(F.col("b").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        obs = Observation()
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
            .observe(
                obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint()
        )
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter; raise it or switch to "
        "connected_components_star)"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14). Same output contract as ``connected_components``: every node
    that appears in an edge labeled with its component's minimum node id.

    Why it exists: min-label propagation needs O(diameter) rounds — fine
    for dense near-dup clusters (diameter ≤ ~3), quadratic-wall-clock bad
    for chain-shaped clusters (e.g. overlapping shingle chains at 100 TB,
    where a 10k-doc chain needs 10k rounds). Large-star/small-star halves
    component height every two rounds → O(log n) rounds on any graph.

    Per round: one groupBy-min per node + one join to re-emit edges toward
    the neighborhood minimum — both shuffles hash on the node id and AQE
    coalesces. Each round's output edge set is an eager
    ``localCheckpoint``, so round N+1 reads a materialized frame; only the
    in-round small-star input is persisted, and it is unpersisted once the
    round's checkpoint has run. Edges are kept normalized (a > b) so the
    fixpoint is literally a star forest: each node's single neighbor is
    its component min.

    - large-star: per node u, every strictly-larger neighbor v re-attaches
      to m = min(Γ(u) ∪ u) — cuts long tails onto local minima.
    - small-star: per node u, every smaller-or-equal neighbor (and u
      itself) attaches to the minimum of the small neighborhood — flattens
      the stars built by large-star.

    Convergence = edge set unchanged (exact check: the edge count, observed
    on the checkpoint job, then an antijoin-empty job only when the counts
    match; no driver collect of the edges). The checkpoints cut lineage —
    see the note in ``connected_components``; the plan would otherwise
    grow ~4x per round and drown the driver in re-analysis.
    """
    # normalized undirected edges: (a, b) with a > b, no self-loops.
    # Edge counts ride the checkpoint jobs via ``observe`` (r12) — the
    # eager materialization already touches every row, so the separate
    # count job per round is pure overhead (a full pass over the edge
    # frame at cluster scale).
    obs0 = Observation()
    cur = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    cur_n = obs0.get["n"]
    converged = False
    for _ in range(max_iter):
        # -- large-star --
        # full neighborhood view: both orientations of every edge
        nbrs = cur.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("ed")
        ).select("ed.a", "ed.b")
        mins = nbrs.groupBy("a").agg(F.min("b").alias("mn"))
        m = F.least(F.col("mn"), F.col("a"))
        ls = nbrs.join(mins, "a").filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("a"), m.alias("b")
        )
        # -- small-star (over the large-star output; emitted edges are
        # already normalized a > b, so "small neighbors of u" is exactly
        # the b side of each edge) --
        # persist: small feeds three branches of the ss plan (smins, the
        # join, the union); without it the large-star groupBy+join chain
        # recomputes per branch — up to 3x the dominant per-round shuffle
        small = ls.distinct().persist()
        smins = small.groupBy("a").agg(F.min("b").alias("mn"))
        obs = Observation()
        ss = (
            small.join(smins, "a")
            .filter(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .union(smins.select(F.col("a"), F.col("mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        new_n = obs.get["n"]
        small.unpersist()  # ss is checkpointed; the cache served its round
        stable = (
            new_n == cur_n
            and ss.join(cur, ["a", "b"], "left_anti").count() == 0
        )
        cur, cur_n = ss, new_n
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds"
        )
    # fixpoint is a star forest: every non-center node has exactly one
    # neighbor (its component min); centers label themselves. Self-loop
    # edges carry no connectivity but DO make their node "appear in an
    # edge" — union them back as singletons so the output contract matches
    # connected_components exactly (min() absorbs them when the node also
    # has real neighbors).
    loops = (
        edges.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"))
        .withColumn("comp", F.col("node"))
    )
    return (
        cur.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("node"), F.col("b").alias("comp")
                    ),
                    F.struct(
                        F.col("b").alias("node"), F.col("b").alias("comp")
                    ),
                )
            ).alias("ed")
        )
        .select("ed.node", "ed.comp")
        .union(loops)
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )


def cluster_assignments(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Dedup-cluster view of a candidate-pair graph:
    ``(doc_id, cluster_id, cluster_size, is_canonical)`` — ``cluster_id`` is
    the component's smallest doc id and the canonical row is that doc.
    The size window partitions by cluster id over the (tiny) label frame,
    never the corpus.

    ``algorithm``: ``"label"`` (min-label propagation — fewest shuffles on
    the low-diameter graphs near-dup candidates produce) or ``"star"``
    (large-star/small-star — O(log n) rounds on any graph shape; the safe
    choice when cluster diameter is unknown). Identical output either way.
    """
    from pyspark.sql.window import Window

    if algorithm not in ("label", "star"):
        raise ValueError(
            f"algorithm must be 'label' or 'star', got {algorithm!r}"
        )
    cc_fn = (
        connected_components_star if algorithm == "star" else connected_components
    )
    cc = cc_fn(edges, src=src, dst=dst, max_iter=max_iter)
    by_cluster = Window.partitionBy("comp")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count(F.lit(1)).over(by_cluster).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).orderBy("cluster_id", "doc_id")


def cluster_oracle_sql(pairs_sql: str) -> str:
    """Recursive-CTE DuckDB twin of ``cluster_assignments`` over any
    pair-producing SQL with columns ``(id_a, id_b)``.

    Min-label propagation as recursion: a label walks an edge only when it
    is smaller than the destination node id; UNION dedup terminates the
    recursion, and ``min`` over all labels a node ever saw is its component.
    """
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM und),
walk(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.b AS node, w.comp
  FROM walk w JOIN und u ON w.node = u.a
  WHERE w.comp < u.b
),
cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT node AS doc_id,
       component AS cluster_id,
       count(*) OVER (PARTITION BY component) AS cluster_size,
       node = component AS is_canonical
FROM cc
ORDER BY cluster_id, doc_id
"""
