"""The one search core of the ANN top-k family.

Every top-k path (brute force, int8, PQ, LSH, IVF and the filed IVF
index) is built from the same four steps, defined once here:

1. **Query read** (``query_batch``): the query side is collected under
   the driver-side cap (similarity/guard.py) into ``(q_ids, q_mat,
   q_raw)``, q_mat L2-normalized; an empty batch is None and the path
   returns ``empty_topk``.
2. **Batch scan** (``scan_topk``): over Arrow batches of the corpus, a
   path-specific ``sims(pdf) -> (nq, nb)`` score matrix (float cosine,
   dequantized int8, PQ ADC lookup) is self-masked and pre-reduced to
   each query's top-n of the batch. Global top-n ⊆ union of per-batch
   top-n, so the pre-reduction is lossless, and only
   O(batches × queries × n) rows reach the rank.
3. **Exact rescore** (``score_candidates``): candidate (query_id,
   vec_id, embedding) rows are cosine-scored against the query matrix
   in one einsum per batch; zero-norm vectors score 0, never NaN.
   ``rescore`` cuts a scan's per-query shortlist and joins it back to
   the float corpus first (int8, PQ).
4. **Rank** (``rank``): row_number over (query_id; sim desc,
   neighbor_id) keeps the top-k — the ordering every path shares.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.guard import collect_query_batch

__all__ = [
    "CAND_SCHEMA",
    "K",
    "N_QUERIES",
    "query_batch",
    "scan_topk",
    "rank",
    "score_candidates",
    "rescore",
    "catalog_query",
    "query_frame",
]

K = 5
N_QUERIES = 8

CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _matrix(col: pd.Series, dtype=np.float64) -> np.ndarray:
    """(n, dim) matrix of a batch's array column."""
    return np.vstack(col.map(lambda a: np.asarray(a, dtype=dtype)).to_numpy())


def query_batch(queries: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(q_ids, q_mat, q_raw) of the (query_id, q_embedding) side, q_mat
    L2-normalized, q_raw as read; None when there are no queries."""
    rows = collect_query_batch(queries, ["query_id", "q_embedding"])
    if not rows:
        return None
    q_raw = np.array([r.q_embedding for r in rows], dtype=np.float64)
    return np.array([r.query_id for r in rows], dtype=np.int64), _normalize(q_raw), q_raw


def scan_topk(
    frame: DataFrame,
    q_ids: np.ndarray,
    n: int,
    sims: Callable[[pd.DataFrame], np.ndarray],
) -> DataFrame:
    """(query_id, neighbor_id, sim): each query's top-n per Arrow batch
    of ``frame`` (vec_id plus what ``sims`` reads), self excluded."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            s = sims(pdf)  # (nq, nb)
            s[q_ids[:, None] == c_ids[None, :]] = -np.inf  # mask self
            kk = min(n, s.shape[1])
            top = np.argpartition(-s, kk - 1, axis=1)[:, :kk]
            sv = np.take_along_axis(s, top, axis=1).ravel()
            keep = np.isfinite(sv)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kk)[keep],
                    "neighbor_id": c_ids[top.ravel()][keep],
                    "sim": sv[keep],
                }
            )

    return frame.mapInPandas(run, CAND_SCHEMA)


def rank(cands: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rnk) — top-k per query by sim desc, ties
    broken by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )


def score_candidates(
    joined: DataFrame, queries: tuple[np.ndarray, np.ndarray], k: int
) -> DataFrame:
    """joined: (query_id, vec_id, embedding) candidate rows; queries:
    (q_ids array, L2-NORMALIZED query matrix), shipped with the scoring
    closure. Returns (query_id, neighbor_id, rnk) for the top-k per
    query, ties broken by neighbor_id."""
    ids, qm = queries

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = {int(q): i for i, q in enumerate(ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            emb = _normalize(_matrix(pdf["embedding"]))
            qidx = pdf["query_id"].map(index).to_numpy(dtype=np.int64)
            sims = np.einsum("ij,ij->i", emb, qm[qidx])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "sim": sims,
                }
            )

    scored = joined.select("query_id", "vec_id", "embedding").mapInPandas(
        score, CAND_SCHEMA
    )
    return rank(scored, k)


def rescore(
    cands: DataFrame,
    corpus: DataFrame,
    queries: tuple[np.ndarray, np.ndarray],
    k: int,
    shortlist: int,
) -> DataFrame:
    """Exact top-k of each query's ``shortlist`` best approximate
    candidates: the cut joins back to the (vec_id, embedding) corpus
    and is scored by ``score_candidates``."""
    short = rank(cands, shortlist).select("query_id", "neighbor_id")
    joined = short.join(
        corpus.select("vec_id", "embedding"), short.neighbor_id == F.col("vec_id")
    )
    return score_candidates(joined, queries, k)


def catalog_query(search: Callable[[DataFrame, DataFrame], DataFrame]):
    """The catalog's QUERY for an ANN path: the first N_QUERIES
    embeddings searched against the whole embeddings table."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = t(spark, sf_dir, "embeddings")
        return search(emb.select("vec_id", "embedding"), query_frame(emb))

    return query


def query_frame(emb: DataFrame) -> DataFrame:
    """(query_id, q_embedding): the first N_QUERIES rows of ``emb``."""
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
