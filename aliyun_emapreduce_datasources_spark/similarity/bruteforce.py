"""Exact cosine top-k: ship the (small) query set to every partition
of the (huge) corpus.

Scale shape: the corpus side never shuffles — queries ship to every
partition as a numpy matrix inside the scoring closure, each Arrow
batch is scored with one BLAS matmul, and a per-batch top-k
pre-reduction means only O(batches × queries × k) candidate rows
reach the final global window rank. Global top-k ⊆ union of per-batch top-k, so the
pre-reduction is lossless. This is the plan that scans 100 TB of
embeddings once with constant memory per executor.

The exact per-pair expression form lives in functions/vector.cosine
for SQL composability; this module is the vectorized execution path
(~10× at sf0.1, growing with corpus size).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.score import _normalize
from aliyun_emapreduce_datasources_spark.similarity.guard import collect_query_batch, empty_topk

__all__ = ["topk_cosine", "QUERY", "ORACLE"]

N_QUERIES = 8
K = 5

CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)



def topk_cosine(corpus: DataFrame, queries: DataFrame, k: int = K) -> DataFrame:
    """Exact top-k corpus neighbors per query vector (cosine).

    corpus: (vec_id, embedding); queries: (query_id, q_embedding) —
    small by contract (collected once, shipped as a matrix).
    Deterministic tie-break on neighbor id.
    """
    qrows = collect_query_batch(queries, ["query_id", "q_embedding"])
    if not qrows:
        return empty_topk(corpus.sparkSession)
    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    q_mat = _normalize(np.array([r.q_embedding for r in qrows], dtype=np.float64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = _normalize(
                np.vstack(pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)).to_numpy())
            )
            sims = q_mat @ c_mat.T  # (nq, nb)
            sims[q_ids[:, None] == c_ids[None, :]] = -np.inf  # mask self
            kk = min(k, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            qi = np.repeat(q_ids, kk)
            ni = c_ids[top.ravel()]
            sv = np.take_along_axis(sims, top, axis=1).ravel()
            keep = np.isfinite(sv)
            yield pd.DataFrame({"query_id": qi[keep], "neighbor_id": ni[keep], "sim": sv[keep]})

    cands = corpus.select("vec_id", "embedding").mapInPandas(run, CAND_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )


def QUERY(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return topk_cosine(emb.select("vec_id", "embedding"), queries)


# DuckDB oracle: cosine in DOUBLE. BLAS vs fold accumulation can differ
# in the last ulp, but ranks only flip on ~1e-15-relative sim gaps —
# far below the data's neighbor separation.
ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))) AS sim
  FROM embeddings e, q WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {K}
"""
