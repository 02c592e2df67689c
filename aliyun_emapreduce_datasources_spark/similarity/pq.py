"""Product-quantization ANN (IVF-PQ shape, Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search"): compress each corpus
vector to M sub-space codebook indices (M bytes), score queries
against the *codes* with an ADC lookup table, then exactly re-score
only the shortlisted candidates.

Pipeline:
1. Train: bounded deterministic sample (orderBy vec_id, limit cap) →
   per-sub-space Lloyd's k-means (seeded) → M codebooks of NCODE
   centroids each. Driver holds M·NCODE·(dim/M) floats — bytes.
2. Encode: `mapInPandas` assigns each sub-vector its nearest codeword;
   the corpus becomes (vec_id, array<int> of M codes) — a 4×–100×
   smaller scan than raw embeddings (dim floats → M bytes at scale).
3. Score: per query, an ADC table T[m][c] = <q_m, codebook[m][c]> is
   built once (M·NCODE dots); each corpus code scores as
   Σ_m T[m][code_m] — pure numpy fancy-indexing over Arrow batches,
   no BLAS on full vectors. The shared batch scan
   (similarity/score.py) pre-reduces per batch, keeping the shuffle at
   O(queries · shortlist).
4. Rescore: shortlist joins back to raw embeddings for exact cosine
   (score.py's ``rescore``), final top-k by exact sim (ADC error never
   surfaces in results, only in recall).

Scale shape (100 TB): the expensive scan runs over codes, not
vectors; at 10⁹ vectors × 768 dims the PQ index is ~8 GB vs 3 TB raw.
Query side is guarded-collected (similarity/guard.py cap). Approximate
by design → rows-only catalog check + recall-vs-bruteforce test.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.similarity.guard import empty_topk
from aliyun_emapreduce_datasources_spark.similarity.score import (
    K,
    _matrix,
    _normalize,
    catalog_query,
    query_batch,
    rescore,
    scan_topk,
)

__all__ = ["train_codebooks", "encode_corpus", "pq_topk", "QUERY"]

M_SUBSPACES = 4
N_CODES = 32
TRAIN_CAP = 2048
KMEANS_ITERS = 10
SHORTLIST = 40  # per-query candidates kept for exact rescore

CODE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def train_codebooks(
    corpus: DataFrame,
    m: int = M_SUBSPACES,
    ncode: int = N_CODES,
    train_cap: int = TRAIN_CAP,
    iters: int = KMEANS_ITERS,
) -> np.ndarray:
    """(m, ncode, dim//m) float64 codebooks from a bounded sample.
    Vectors are L2-normalized first (cosine ≡ dot thereafter)."""
    sample = corpus.select("vec_id", "embedding").orderBy("vec_id").limit(train_cap).collect()
    X = _normalize(np.array([r.embedding for r in sample], dtype=np.float64))
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(0)
    books = np.empty((m, ncode, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(len(Xj), size=min(ncode, len(Xj)), replace=False)]
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
        if len(C) < ncode:  # degenerate tiny sample: pad with repeats
            books[j, len(C) :] = C[0]
    return books


def encode_corpus(corpus: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes): nearest codeword per sub-space — the PQ index."""
    m, _, sub = books.shape

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _normalize(_matrix(pdf["embedding"]))
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64), "codes": list(codes)}
            )

    return corpus.select("vec_id", "embedding").mapInPandas(run, CODE_SCHEMA)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = K,
    m: int = M_SUBSPACES,
    ncode: int = N_CODES,
    shortlist: int = SHORTLIST,
) -> DataFrame:
    """Top-k per query via ADC scan over PQ codes + exact rescore."""
    q = query_batch(queries)
    if q is None:
        # no queries -> no work; also skips codebook training, which
        # cannot run on an empty corpus
        return empty_topk(corpus.sparkSession)
    books = train_codebooks(corpus, m=m, ncode=ncode)
    codes = encode_corpus(corpus, books)

    q_ids, q_mat, _ = q
    sub = q_mat.shape[1] // m
    # ADC tables: (nq, m, ncode) — query sub-vector · every codeword
    tables = np.einsum("qjs,jcs->qjc", q_mat.reshape(len(q_mat), m, sub), books)

    def adc(pdf):
        C = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (nb, m)
        # sims[q, b] = Σ_j tables[q, j, C[b, j]]
        sims = np.zeros((len(q_ids), len(C)))
        for j in range(C.shape[1]):
            sims += tables[:, j, :][:, C[:, j]]
        return sims

    cands = scan_topk(codes, q_ids, shortlist, adc)
    return rescore(cands, corpus, (q_ids, q_mat), k, shortlist)


QUERY = catalog_query(pq_topk)
