"""Semantic deduplication (SemDeDup-style): cluster the embedding
space, then greedily prune near-duplicate vectors *within* each
cluster, keeping one representative per epsilon-ball.

Reference parity: the reference has no embedding ops at all — this is
part of the training-data-pipeline extension surface (brief), shaped
after the SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540):
k-means over embeddings, per-cluster pairwise cosine, drop all but one
member of each near-dup group.

Prune rule (deterministic, order-free): vector v is PRUNED iff some
u in the same cluster has cosine(u, v) >= tau and u.vec_id < v.vec_id.
Equivalent to a greedy sweep in vec_id order, and expressible as a
single NOT EXISTS — which is exactly the DuckDB oracle.

Scale shape (100 TB): the work is per-cluster `applyInPandas` — one
shuffle on the cluster key, then an O(|c|²) BLAS matmul inside each
task. Cluster sizes are controlled by k (k-means granularity), so task
memory is bounded by the largest cluster, not the corpus; parallelism
is the number of clusters. No driver collect, no all-pairs across
clusters. The cataloged variant uses the testdata's `label` column as
the cluster key (the assignment is the *input* contract — at scale it
comes from similarity/ivf.py's train/assign pass, see
``semantic_dedup_kmeans``); that keeps the oracle engine-portable
(DuckDB cannot reproduce our k-means, but it can group by a column).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.score import _matrix, _normalize
from aliyun_emapreduce_datasources_spark.similarity.ivf import (
    assign_clusters,
    train_centroids,
)

__all__ = [
    "semantic_prune",
    "semantic_dedup",
    "semantic_dedup_kmeans",
    "QUERY",
    "ORACLE",
]

TAU = 0.4

KEPT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster_size", T.LongType()),
    ]
)


def semantic_prune(clustered: DataFrame, cluster_col: str, tau: float = TAU) -> DataFrame:
    """(vec_id, cluster_size) of survivors after per-cluster greedy
    cosine pruning. `clustered` must carry vec_id, embedding and the
    cluster column."""

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"vec_id": [], "cluster_size": []}).astype("int64")
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = _normalize(_matrix(pdf["embedding"]))
        sims = mat @ mat.T
        # pruned[j] iff any i<j with sims[i,j] >= tau — vectorized
        # strict-upper-triangle test, no Python loop over pairs
        hit = np.triu(sims >= tau, k=1)
        pruned = hit.any(axis=0)
        return pd.DataFrame(
            {"vec_id": ids[~pruned], "cluster_size": np.int64(len(ids))}
        )

    return (
        clustered.select("vec_id", "embedding", cluster_col)
        .groupBy(cluster_col)
        .applyInPandas(prune, KEPT_SCHEMA)
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cataloged variant: cluster key = the given `label` column."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return semantic_prune(emb, "label").orderBy("vec_id")


def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str, k: int = 16) -> DataFrame:
    """Scale variant: spherical k-means assignment (similarity/ivf.py)
    as the cluster key. Not cataloged (k-means is engine-specific);
    recall-tested against the label-blocked twin."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = train_centroids(emb, k=k)
    clustered = assign_clusters(emb, C)
    return semantic_prune(clustered, "cluster").orderBy("vec_id")


QUERY = semantic_dedup

# NOT EXISTS an earlier same-cluster neighbor above tau == the greedy
# sweep in vec_id order. cluster_size counts the FULL cluster (pruned
# members included), so it must come from the base table, not a window
# over the filtered survivors.
ORACLE = f"""
SELECT e.vec_id, s.cluster_size
FROM embeddings e
JOIN (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM embeddings GROUP BY label
) s ON e.label = s.label
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings u
  WHERE u.label = e.label AND u.vec_id < e.vec_id
    AND list_cosine_similarity(u.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= {TAU}
)
ORDER BY e.vec_id
"""
