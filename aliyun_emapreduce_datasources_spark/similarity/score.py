"""Shared candidate-scoring epilogue for the ANN entry points.

Every bucketed ANN variant (LSH, IVF) ends the same way: candidate
(query_id, vec_id, embedding) rows are cosine-scored against the
query matrix in one Arrow-batched einsum, then a per-query
rank window keeps the top-k. One definition here keeps the five entry
points from diverging on the qidx lookup, tie-break, or schema (a fix
applied to one inlined copy used to need manual mirroring in the
others).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["CAND_SCHEMA", "score_candidates"]

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
            emb = _normalize(
                np.vstack(
                    pdf["embedding"]
                    .map(lambda a: np.asarray(a, dtype=np.float64))
                    .to_numpy()
                )
            )
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )
