"""Duplicate-cluster resolution: connected components over near-dup
pairs.

Pairwise dedup (exact / MinHash / n-gram Jaccard) emits *edges*; a
training pipeline needs *clusters* — if A~B and B~C, all three are one
duplicate group and exactly one representative survives. That closure
is a connected-components computation, here min-label propagation:
every doc starts labeled with its own id, and each round every doc
takes the minimum label among itself and its neighbors. The fixpoint
label is the component's minimum doc_id, which doubles as the
deterministic canonical-representative choice.

Scale shape: each round is one shuffle join of the label table against
the (symmetrized) edge list, both partitioned on doc_id, and rounds =
graph diameter. Near-dup graphs are overwhelmingly tiny cliques plus
short chains, so the loop converges in a handful of rounds even at
corpus scale; `localCheckpoint` truncates the growing lineage so round
N doesn't replay rounds 1..N-1. Convergence is detected from the
monotone-decreasing label sum (one lightweight agg per round) rather
than a row-level diff join. For graphs with adversarially long chains
the large-star/small-star variant halves the diameter per round; the
edge sets here don't need it.

The DuckDB oracle computes the same fixpoint with a recursive CTE
(min reachable id over the symmetric edge relation), so the whole
pairs→clusters path is value-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup.ngram import (
    ORACLE as NGRAM_PAIRS_ORACLE,
    ngram_jaccard_pairs,
)
from aliyun_emapreduce_datasources_spark.operators.common import (
    checkpoint_step,
    local_df,
    release_checkpoint,
    t,
)

__all__ = ["connected_components", "dedup_cluster_resolve", "QUERY", "ORACLE"]

MAX_ROUNDS = 25  # diameter bound; near-dup graphs converge in ~3

# Below this many edges the component closure is solved driver-side
# with union-find instead of the iterative join loop. The budget is
# sized for what collect() ACTUALLY costs — PySpark Row objects run
# ~300-500 bytes each, so 250k edges ≈ 100 MB of driver heap (NOT the
# 16 bytes/edge a C array would take); a dozen Spark jobs over a
# sub-second problem still cost more than that. Above it, the
# distributed min-label loop runs; the threshold is the standard
# small-graph escape hatch, not the scale path.
SMALL_GRAPH_EDGES = 250_000


def _unionfind_components(
    spark: SparkSession, edge_rows: list
) -> DataFrame:
    """Driver union-find over a bounded, already-collected edge list
    (< SMALL_GRAPH_EDGES rows, enforced by the caller). Returns
    (doc_id, cluster_id) for edge-touched nodes only, cluster_id =
    component min doc_id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the canonical representative
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    return local_df(spark, rows, "doc_id: long, cluster_id: long")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    consume_edges: bool = False,
) -> DataFrame:
    """Connected components: (doc_id, cluster_id) with cluster_id the
    component's minimum doc_id.

    nodes: one column ``doc_id``; edges: ``doc_a < doc_b`` pairs.
    Hybrid execution: if the edge list is small (bounded count — the
    broadcast-side budget), collect it and run union-find on the
    driver in one pass; otherwise run distributed min-label
    propagation. Pass ``small_graph_edges=0`` to force the distributed
    path (tests pin both paths to the same fixpoint).

    ``consume_edges=True`` transfers ownership of ``edges`` to this
    call: once the result no longer depends on the edge pipeline (the
    union-find path after its one bounded collect), any checkpoint
    blocks the edge plan reads are released immediately instead of
    waiting for a driver GC (they are typically the pair pipeline's
    eagerly materialized candidate table). Callers that reuse ``edges``
    afterwards must keep the default.
    """
    spark = edges.sparkSession
    if small_graph_edges > 0:
        # single job: collecting limit(n+1) both tests the threshold
        # and delivers the edges (a separate count would pay a second
        # pass over the pair computation)
        head = (
            edges.select("doc_a", "doc_b")
            .limit(small_graph_edges + 1)
            .collect()
        )
        if len(head) <= small_graph_edges:
            if consume_edges:
                # the collected rows are the only thing the result uses
                release_checkpoint(edges)
            labels = _unionfind_components(spark, head)
            # nodes not touched by any edge keep their own id
            return nodes.join(labels, "doc_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
    return _propagate_components(nodes, edges, consume_edges=consume_edges)


def _propagate_components(
    nodes: DataFrame, edges: DataFrame, consume_edges: bool = False
) -> DataFrame:
    """Distributed min-label propagation to fixpoint — the 100 TB path.
    Each round is one shuffle join of the label table against the
    symmetrized edge list; rounds = graph diameter. The loop runs only
    over EDGE-TOUCHED nodes (the near-dup subgraph — orders of
    magnitude smaller than the corpus); untouched nodes take their own
    id in the final join-back and never enter a round."""
    edges_src = edges if consume_edges else None
    edges = edges.select("doc_a", "doc_b").persist()
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    ).persist()
    touched = sym.select(F.col("src").alias("doc_id")).distinct()
    labels = touched.select("doc_id", F.col("doc_id").alias("cluster_id"))
    prev_sum = None
    prev_labels = None
    converged = False
    for _ in range(MAX_ROUNDS):
        # neighbor minimum, then elementwise min with own label
        neigh = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        labels, cur = checkpoint_step(
            prev_labels,
            labels.join(neigh, "doc_id", "left").select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("neigh_min", "cluster_id")
                ).alias("cluster_id"),
            ),
            lambda df: df.agg(F.sum("cluster_id")).collect()[0][0],
        )
        prev_labels = labels
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # silently returning unconverged labels would split one
        # component into several "clusters" with multiple is_kept
        # representatives — duplicates would survive dedup with no
        # signal (and the recursive-CTE oracle would fail obscurely)
        raise RuntimeError(
            f"label propagation did not converge in {MAX_ROUNDS} rounds "
            "(graph diameter exceeds the bound); raise MAX_ROUNDS or "
            "use the large-star/small-star variant for chain-heavy graphs"
        )
    # the final labels are materialized (every round's localCheckpoint
    # is realized by its convergence agg), so the edge caches can be
    # dropped before returning without forcing a recompute. Only then
    # is the upstream edge pipeline (often an eagerly checkpointed
    # candidate table) dead: the caches' lineage leads into it, so a
    # lost cache block in any round recomputes from it.
    sym.unpersist()
    edges.unpersist()
    if edges_src is not None:
        release_checkpoint(edges_src)
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )


def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for every document, edges = shingle-Jaccard
    near-dup pairs (dedup/ngram.py). ``is_kept`` marks the canonical
    representative (minimum doc_id of its component).

    Cache lifecycle note: the union-find path touches the pair
    computation exactly once (one bounded collect), and the propagate
    path manages its own edge cache internally — so the caller holds
    no persist whose unpersist could race the (lazy) returned plan.
    An earlier version persisted pairs here and unpersisted before
    returning, which silently recomputed the whole pair pipeline when
    the caller finally executed the result.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(docs, pairs, consume_edges=True)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
    ).orderBy("doc_id")


QUERY = dedup_cluster_resolve

ORACLE = f"""
WITH RECURSIVE pairs AS ({NGRAM_PAIRS_ORACLE}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id,
       node = MIN(lab) AS is_kept
FROM reach GROUP BY node
ORDER BY doc_id
"""


def dedup_cluster_weights(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Soft dedup: instead of dropping duplicates, every member of a
    near-dup cluster is DOWN-WEIGHTED to 1/cluster_size — the
    alternative training-mix practice when exact provenance balance
    matters more than corpus shrinkage (each duplicated text
    contributes one document's worth of gradient in total). Emits
    (doc_id, cluster_id, cluster_size, weight_ppm) for EVERY doc;
    singletons carry weight 1.0.

    Exactness: weight is integer parts-per-million via floor division
    (1_000_000 // size), mirrored in the oracle — no float ratio.

    Scale shape: the connected-components labels (one bounded collect
    or the min-label loop, see above) plus ONE additional shuffle on
    cluster_id for the size aggregate, re-joined on the same key.
    """
    labels = dedup_cluster_resolve(spark, sf_dir).select("doc_id", "cluster_id")
    if materialize:
        # labels feeds the size aggregate AND the weight join-back
        labels = labels.persist()
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.expr("1000000 div cluster_size").cast("long").alias("weight_ppm"),
        )
        .orderBy("doc_id")
    )


ORACLE_CLUSTER_WEIGHTS = f"""
WITH RECURSIVE pairs AS ({NGRAM_PAIRS_ORACLE}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
FROM labels l JOIN sizes s USING (cluster_id)
ORDER BY doc_id
"""


def minhash_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-quadratic end-to-end near-dup resolution: LSH-bucketed
    MinHash candidate pairs (dedup/minhash.py — O(docs×bands) shuffle,
    never all-pairs) fed through the same min-label propagation. This
    is the composition a 100 TB corpus actually runs; the ngram-pairs
    variant above stays an independent oracle-checked reference.

    FULL DuckDB oracle since round 10: the pairs use the portable md5
    family (minhash.CATALOG_HASH — the round-9 promotion that already
    made `dedup_minhash_lsh` hash-checked), so the whole composition
    — signatures → banding → exact verify → connected components — is
    value-reproducible in SQL (the recursive-CTE min-label closure,
    same pattern as `dedup_cluster_resolve`'s oracle). The containment
    property vs the exact high-Jaccard clusters stays pinned by
    `dedup_minhash_cluster_containment_check` and tests/test_dedup.py.
    """
    from aliyun_emapreduce_datasources_spark.dedup.minhash import minhash_dedup_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_dedup_pairs(spark, sf_dir, threshold=0.5).select("doc_a", "doc_b")
    # consume_edges: see dedup_cluster_resolve — the MinHash pipeline's
    # checkpointed pair table dies as soon as the closure has it
    labels = connected_components(docs, pairs, consume_edges=True)
    return (
        labels.withColumn("is_kept", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def _oracle_minhash_clusters() -> str:
    """Recursive min-label closure over the portable-md5 MinHash pair
    oracle — built lazily so the import graph stays acyclic."""
    from aliyun_emapreduce_datasources_spark.dedup import minhash

    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({minhash.ORACLE}) mh
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id,
       node = MIN(lab) AS is_kept
FROM reach GROUP BY node
ORDER BY doc_id
"""


ORACLE_MINHASH_CLUSTERS = _oracle_minhash_clusters()
