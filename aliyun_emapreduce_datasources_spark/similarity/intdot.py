"""The integer-exact embedding core.

Every embedding operator whose DuckDB oracle is byte-exact works on
the same integers, defined once here:

1. **Quantization** (``micro``, ``micro_np``, ``quantized``):
   ``q = floor(double(x)·QSCALE)``. float32→double is exact and the
   multiply and the floor are single IEEE operations both engines
   evaluate identically, so sums and dots of ``q`` are exact int64 in
   Spark, numpy and DuckDB alike.
2. **Exact dot** (``int_dot``): the int64 inner product as a JVM
   expression, with no Python worker in the per-pair path; ANSI mode
   turns an int64 overflow into a loud error.
3. **Block grid** (``block_cogroup``): distributed pair work without
   n² rows. Each side is replicated to the block pairs the caller
   lists — all B² for directed top-k, the upper triangle for
   symmetric pair work — and every block pair meets in one cogrouped
   ``applyInPandas`` task, so the shuffle carries O(n·B) rows. This is
   the per-partition partial top-k plus global merge of distributed
   top-k search (REPOSE, ICDE 2021).
4. **Guarded top-k** (``int_matmul``, ``topk_rows``): a block pair's
   int64 matmul, refused before it could wrap silently, and each row's
   top-k by (dot desc, neighbor id asc) with self excluded.
5. **Shortlist rescore** (``rescore_dots``, ``rescore_topk``):
   candidate pairs join back to their quantized vectors for the exact
   dot and a rank-limited window (WindowGroupLimit) — the tail of the
   LSH and IVF shortlists and of the bitext LSH candidates.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import local_df, t

__all__ = [
    "QSCALE",
    "micro",
    "micro_np",
    "quantized",
    "int_dot",
    "block_cogroup",
    "int_matmul",
    "topk_rows",
    "rescore_dots",
    "rescore_topk",
]

QSCALE = 1_000_000


def micro(x: Column) -> Column:
    """``floor(double(x)·QSCALE)`` as a long Column."""
    return F.floor(x.cast("double") * F.lit(float(QSCALE))).cast("long")


def micro_np(mat) -> np.ndarray:
    """``floor(x·QSCALE)`` of a float matrix, as exact integers held in
    float64 (cast to int64 where the arithmetic needs it)."""
    return np.floor(np.asarray(mat, dtype=np.float64) * QSCALE)


def quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label int, qe array<long>) of the embeddings table."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.transform("embedding", micro).alias("qe"),
    )


def int_dot(a, b) -> Column:
    """Exact int64 inner product of two integer-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def block_cogroup(
    left: DataFrame,
    right: DataFrame,
    pairs: Iterable[tuple[int, int]],
    fn: Callable,
    schema: str,
    keys: tuple[str, str] = ("blk_l", "blk_r"),
) -> DataFrame:
    """``fn(key, left_block, right_block)`` over every listed block
    pair. Both sides carry an int ``blk`` column; a left row joins the
    pairs whose first key is its block, a right row those whose second
    key is. Both sides may derive from one frame: each is aliased
    afresh and every projected column re-aliased, so the self-join
    ambiguity check resolves each side."""
    grid = local_df(left.sparkSession, pairs, f"{keys[0]} int, {keys[1]} int")

    def replicated(side: DataFrame, key: str, tag: str) -> DataFrame:
        b, g = side.alias(f"b{tag}"), grid.alias(f"g{tag}")
        return b.join(
            F.broadcast(g), F.col(f"b{tag}.blk") == F.col(f"g{tag}.{key}")
        ).select(
            *[F.col(f"g{tag}.{k}").alias(k) for k in keys],
            *[F.col(f"b{tag}.{c}").alias(c) for c in side.columns if c != "blk"],
        )

    return (
        replicated(left, keys[0], "l")
        .groupBy(*keys)
        .cogroup(replicated(right, keys[1], "r").groupBy(*keys))
        .applyInPandas(fn, schema)
    )


def int_matmul(ml: np.ndarray, mr: np.ndarray) -> np.ndarray:
    """``ml @ mr.T`` in int64. numpy wraps int64 silently, so the
    worst case ``dim·max|ml|·max|mr|`` is bounded first and an input
    that could reach 2⁶² raises instead of corrupting the ranking."""
    max_l = int(np.abs(ml).max(initial=0))
    max_r = int(np.abs(mr).max(initial=0))
    worst = ml.shape[1] * max_l * max_r
    if worst >= 2**62:
        raise OverflowError(
            "quantized dot product may exceed int64 "
            f"(dim={ml.shape[1]}, max|left|={max_l}, max|right|={max_r}, "
            f"worst-case |dot|={worst}); reduce the quantization scale "
            "or the input magnitude"
        )
    return ml @ mr.T


def topk_rows(
    dots: np.ndarray, q_ids: np.ndarray, n_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(i, j) index arrays of each row's top-``k`` columns of ``dots``
    by (dot desc, n_ids asc), skipping a column whose id is the row's
    own; rows in order, each row's picks in rank order."""
    rows, cols = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for i in range(dots.shape[0]):
        order = np.lexsort((n_ids, -dots[i]))  # last key is primary
        order = order[n_ids[order] != q_ids[i]][:k]
        rows.append(np.full(len(order), i, dtype=np.int64))
        cols.append(order)
    return np.concatenate(rows), np.concatenate(cols)


def rescore_dots(
    base: DataFrame, pairs: DataFrame, q: str = "qid", c: str = "cid"
) -> DataFrame:
    """``pairs`` joined to both members' labels and quantized vectors
    from the (vec_id, label, qe) frame ``base``, plus their exact
    ``dot``."""
    lq = base.select(
        F.col("vec_id").alias(q),
        F.col("label").alias("q_label"),
        F.col("qe").alias("q_qe"),
    )
    rq = base.select(
        F.col("vec_id").alias(c),
        F.col("label").alias("c_label"),
        F.col("qe").alias("c_qe"),
    )
    return pairs.join(lq, q).join(rq, c).withColumn("dot", int_dot("q_qe", "c_qe"))


def rescore_topk(base: DataFrame, pairs: DataFrame, k: int) -> DataFrame:
    """(vec_id, label, nbr, nbr_label, dot, rn): the exact top-``k``
    of each query's (qid, cid) candidates by (dot desc, nbr asc)."""
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("cid"))
    return (
        rescore_dots(base, pairs)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("cid").alias("nbr"),
            F.col("c_label").alias("nbr_label"),
            "dot",
            "rn",
        )
    )
