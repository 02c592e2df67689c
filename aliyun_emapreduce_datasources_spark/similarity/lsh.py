"""Random-hyperplane LSH for cosine ANN — the bucketed scale path.

Standard multi-table construction (Indyk-Motwani / Charikar):

- L independent hash tables, each with B sign-bits: bit h of table t is
  sign(dot(v, plane_{t,h})). P(two vectors at angle θ share a bucket in
  one table) = (1 - θ/π)^B; L tables + Hamming-1 multiprobe lift the
  per-table probability to usable recall without widening any bucket.
- Hyperplanes are pseudo-random but fully deterministic, generated from
  an integer mix of (table, plane, dim) — no driver-side RNG state. The
  corpus side computes all L signatures with ONE matmul per Arrow batch
  (mapInPandas); the expression-tree form (`hyperplane_signature`) is
  kept for SQL composability. The two paths sign-test the same float64
  dot products but sum them in different orders (sequential fold vs
  BLAS blocked accumulation), so a dot within ~1 ulp of zero can
  bucket differently — near-identical, not bit-identical; irrelevant
  to recall (such vectors sit ON a hyperplane) but don't mix the two
  paths for one index and expect byte-equal signatures.
- Search explodes each query into its L probe keys (and the B·L
  one-bit-flip neighbors), joins corpus on (table, bucket), then ranks
  the union of candidates exactly (vectorized cosine). Shuffle volume
  is O(corpus × L) keys, never O(n²).

Tuning for this data (64-dim random-ish vectors, neighbor cosine
≈ 0.3-0.46): B=6, L=4, multiprobe=1 → measured recall@5 ≈ 0.7 vs
brute force; recall rises with L at linear cost.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.operators.common import local_df
from aliyun_emapreduce_datasources_spark.similarity.guard import empty_topk
from aliyun_emapreduce_datasources_spark.similarity.score import (
    K,
    _matrix,
    catalog_query,
    query_batch,
    score_candidates,
)

__all__ = ["hyperplane_signature", "signature_tables", "ann_lsh_topk", "QUERY"]

N_PLANES = 6
N_TABLES = 4
DIM = 64

SIG_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("tbl", T.IntegerType()),
        T.StructField("sig", T.LongType()),
    ]
)

_M64 = (1 << 64) - 1


def _plane_weight(table: int, h: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-0.5, 0.5).

    splitmix64-finalized avalanche of (table, h, d) — NOT a linear
    congruence: a multiplicative Weyl step here makes every plane a
    near-translate of one index sequence, i.e. nearly-duplicate
    hyperplanes across tables (measured |corr| up to 0.998 at
    dim=128), which silently collapses the union-of-tables recall the
    auto_tables contract depends on. The avalanche decorrelates planes
    (mean |corr| ≈ the 1/√dim of independent draws), restoring the
    (1−(1−p^planes)^tables) model the recall tests pin."""
    x = (
        table * 0x9E3779B97F4A7C15 + h * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB
    ) & _M64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _M64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _M64
    x ^= x >> 31
    return x / 2.0**64 - 0.5


def _plane_matrix(n_planes: int, n_tables: int, dim: int) -> np.ndarray:
    """(dim, n_tables * n_planes) float64 — column t*B+h is plane h of
    table t, identical to the expression-form weights."""
    P = np.empty((dim, n_tables * n_planes), dtype=np.float64)
    for tbl in range(n_tables):
        for h in range(n_planes):
            for d in range(dim):
                P[d, tbl * n_planes + h] = _plane_weight(tbl, h, d)
    return P


def hyperplane_signature(
    vec: str | Column, n_planes: int = N_PLANES, dim: int = DIM, table: int = 0
) -> Column:
    """B-bit signature (one table) as a long; per-plane dot products
    via zip_with against array-literal planes. Expression form — for
    embedding-in-SQL pipelines; the ANN path below uses the matmul
    twin."""
    v = F.col(vec) if isinstance(vec, str) else vec
    vd = F.transform(v, lambda x: x.cast("double"))
    sig = F.lit(0).cast("long")
    for h in range(n_planes):
        plane = F.array(*[F.lit(_plane_weight(table, h, d)) for d in range(dim)])
        dot_h = F.aggregate(
            F.zip_with(vd, plane, lambda x, w: x * w), F.lit(0.0), lambda acc, x: acc + x
        )
        bit = F.when(dot_h > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseXOR(F.shiftleft(bit, h))
    return sig


def signature_tables(
    vec: str | Column, n_planes: int = N_PLANES, n_tables: int = N_TABLES, dim: int = DIM
) -> Column:
    """array<struct<tbl,sig>> — one signature per hash table
    (expression form)."""
    return F.array(
        *[
            F.struct(
                F.lit(tbl).cast("int").alias("tbl"),
                hyperplane_signature(vec, n_planes, dim, table=tbl).alias("sig"),
            )
            for tbl in range(n_tables)
        ]
    )


def _corpus_signatures(
    corpus: DataFrame, n_planes: int, n_tables: int, dim: int
) -> DataFrame:
    """(vec_id, embedding, tbl, sig) — L rows per vector, signatures
    from one matmul per Arrow batch."""
    P = _plane_matrix(n_planes, n_tables, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _matrix(pdf["embedding"])
            bits = (mat @ P) > 0  # (n, L*B)
            sigs = (bits.reshape(len(pdf), n_tables, n_planes) * weights).sum(axis=2)  # (n, L)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(dtype=np.int64), n_tables),
                    "embedding": pdf["embedding"].to_numpy().repeat(n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "sig": sigs.astype(np.int64).ravel(),
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(run, SIG_SCHEMA)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = K,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    multiprobe: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k neighbors per query via multi-table
    signature-bucket join.

    corpus: (vec_id, embedding); queries: (query_id, q_embedding) —
    small by contract (collected for probe-key generation + scoring).
    ``dim`` defaults to the query vectors' width (a hard-coded width
    would crash any non-64-dim corpus at the matmul).
    """
    spark = corpus.sparkSession
    q = query_batch(queries)
    if q is None:
        return empty_topk(spark)
    q_ids, q_mat, q_raw = q
    if dim is None:
        dim = q_raw.shape[1]
    P = _plane_matrix(n_planes, n_tables, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    bits = (q_raw @ P) > 0
    sigs = (bits.reshape(len(q_ids), n_tables, n_planes) * weights).sum(axis=2)

    probe_rows = []
    for qi, qid in enumerate(q_ids):
        for tbl in range(n_tables):
            sig0 = int(sigs[qi, tbl])
            probes = [sig0] + ([sig0 ^ (1 << h) for h in range(n_planes)] if multiprobe else [])
            probe_rows.extend((int(qid), tbl, s) for s in probes)
    probe_df = local_df(spark, probe_rows, "query_id long, tbl int, sig long")

    c = _corpus_signatures(corpus, n_planes, n_tables, dim)
    joined = (
        c.join(F.broadcast(probe_df), ["tbl", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )

    return score_candidates(joined, (q_ids, q_mat), k)


QUERY = catalog_query(ann_lsh_topk)
