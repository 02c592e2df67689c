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
   no BLAS on full vectors. Per-partition shortlist pre-reduction
   keeps the shuffle at O(queries · shortlist), like quantize.py.
4. Rescore: shortlist joins back to raw embeddings for exact cosine,
   final top-k by exact sim (ADC error never surfaces in results,
   only in recall).

Scale shape (100 TB): the expensive scan runs over codes, not
vectors; at 10⁹ vectors × 768 dims the PQ index is ~8 GB vs 3 TB raw.
Query side is guarded-collected (similarity/guard.py cap). Approximate
by design → rows-only catalog check + recall-vs-bruteforce test.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.bruteforce import _normalize
from aliyun_emapreduce_datasources_spark.similarity.guard import collect_query_batch, empty_topk

__all__ = ["train_codebooks", "encode_corpus", "pq_topk", "QUERY"]

M_SUBSPACES = 4
N_CODES = 32
K = 5
N_QUERIES = 8
TRAIN_CAP = 2048
KMEANS_ITERS = 10
SHORTLIST = 40  # per-query candidates kept for exact rescore

CODE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)

CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("adc", T.DoubleType()),
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
            X = _normalize(
                np.vstack(pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)).to_numpy())
            )
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
    qrows = collect_query_batch(queries, ["query_id", "q_embedding"])
    if not qrows:
        # no queries -> no work; also skips codebook training, which
        # cannot run on an empty corpus
        return empty_topk(corpus.sparkSession)
    books = train_codebooks(corpus, m=m, ncode=ncode)
    codes = encode_corpus(corpus, books)

    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    q_mat = _normalize(np.array([r.q_embedding for r in qrows], dtype=np.float64))
    sub = q_mat.shape[1] // m
    # ADC tables: (nq, m, ncode) — query sub-vector · every codeword
    tables = np.einsum("qjs,jcs->qjc", q_mat.reshape(len(q_mat), m, sub), books)
    nq = len(q_ids)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (nb, m)
            # sims[q, b] = Σ_j tables[q, j, C[b, j]]
            sims = np.zeros((nq, len(C)))
            for j in range(C.shape[1]):
                sims += tables[:, j, :][:, C[:, j]]
            sims[q_ids[:, None] == c_ids[None, :]] = -np.inf
            kk = min(shortlist, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            qi = np.repeat(q_ids, kk)
            ni = c_ids[top.ravel()]
            sv = np.take_along_axis(sims, top, axis=1).ravel()
            keep = np.isfinite(sv)
            yield pd.DataFrame({"query_id": qi[keep], "neighbor_id": ni[keep], "adc": sv[keep]})

    cands = codes.mapInPandas(scan, CAND_SCHEMA)
    # global per-query shortlist, then exact rescore on raw vectors
    w_short = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    short = (
        cands.withColumn("srnk", F.row_number().over(w_short))
        .where(F.col("srnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qmap = {int(r.query_id): np.asarray(r.q_embedding, dtype=np.float64) for r in qrows}

    rescored = (
        short.join(corpus.select("vec_id", "embedding"), short.neighbor_id == F.col("vec_id"))
        .select("query_id", "neighbor_id", "embedding")
    )

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized: stack the batch into one matrix and do a single
        # row-wise einsum against the per-row query vectors — the
        # per-row Python loop form is interpreter-bound, not BLAS-bound
        qids_sorted = sorted(qmap)
        qindex = {q: i for i, q in enumerate(qids_sorted)}
        qm = np.vstack([qmap[q] for q in qids_sorted])
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.vstack(
                pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)).to_numpy()
            )
            emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
            qidx = pdf["query_id"].map(qindex).to_numpy(dtype=np.int64)
            sims = np.einsum("ij,ij->i", emb, qm[qidx])
            out = pdf[["query_id", "neighbor_id"]].copy()
            out["adc"] = sims
            yield out

    exact_scored = rescored.mapInPandas(exact, CAND_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        exact_scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )


def QUERY(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return pq_topk(emb.select("vec_id", "embedding"), queries)
