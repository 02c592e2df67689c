"""Hybrid retrieval: BM25 keyword arm + query-by-example vector arm,
fused with Reciprocal Rank Fusion (Cormack, Clarke & Buettcher '09) —
the standard RAG-retrieval shape (lexical recall + semantic recall,
rank-level fusion so neither score scale has to be calibrated).

Arms:

- **Lexical**: the integer-exact BM25 of functions/bm25.py (same
  QUERY_TERMS), ranked by (score desc, doc_id).
- **Vector**: integer-quantized dot product of every embedding against
  the query vector — here the embedding of ``vec_id = 0`` ("more like
  this document"; the testdata keys embeddings by the same id space as
  documents). Quantization to int64 micro-units makes the dot exact in
  both engines (the assign.py convention); 64 dims × (1e6)² products
  stay far inside int64.

Fusion: ``RRF(d) = Σ_arms 1/(K + rank_arm(d))`` with K = 60, kept
integer-exact as ``1e6 div (K + rank)`` so the fused score is an
order-free BIGINT sum and the DuckDB differential is value-exact.
Docs absent from an arm contribute 0 for that arm (the standard RRF
union semantics).

Scale shape: each arm ends in a rank-window capped at ARM_K rows —
TakeOrdered-style pruning, never a global sort of the corpus — and
the fusion join touches 2·ARM_K rows (broadcast-sized whatever the
corpus size). The query embedding is one row fetched to the driver
and inlined as a literal (bytes — the same legitimate driver hop as
similarity/assign.py prototypes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.functions.bm25 import (
    BM25_SCORED_CTES,
    bm25_scores,
)
from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.intdot import int_dot, micro, micro_np

__all__ = ["hybrid_search_rrf", "QUERIES", "ORACLES"]

ARM_K = 50       # per-arm candidate depth
RRF_K = 60       # the canonical RRF dampening constant
TOP_OUT = 20
QUERY_VEC_ID = 0
SCALE = 1_000_000


def _quantized_dots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dot): int64 micro-unit dot product of every embedding
    (except the query's own) against the query embedding."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
    if qrow is None:
        raise ValueError(f"query vector id {QUERY_VEC_ID} not found")
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in micro_np(qrow[0])])
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.transform("embedding", micro).alias("qe"),
        )
        .select("doc_id", int_dot("qe", qlit).alias("dot"))
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # each arm prunes with orderBy+limit FIRST (TakeOrderedAndProject:
    # per-partition heaps, no global sort of the corpus); the rank
    # window then runs over <= ARM_K rows, so the only global window
    # in the plan is broadcast-sized. The lexical arm ranks the FULL
    # bm25 score table to its own ARM_K depth — reusing bm25_topk
    # would silently cap it at that entry's top-15
    lex_top = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(ARM_K)
    )
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    vec_top = (
        _quantized_dots(spark, sf_dir)
        .orderBy(F.col("dot").desc(), "doc_id")
        .limit(ARM_K)
    )
    vec_rank = vec_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("dot").desc(), "doc_id"))
        .cast("long")
        .alias("r_vec"),
    )
    fused = (
        lex_rank.join(vec_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            (
                F.coalesce(
                    F.expr(f"{SCALE} div ({RRF_K} + r_lex)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{SCALE} div ({RRF_K} + r_vec)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(TOP_OUT)


# the BM25 scoring CTEs come verbatim from bm25.py — one definition of
# the integer formulation, so the two oracles cannot drift
ORACLE_HYBRID = f"""
WITH {BM25_SCORED_CTES}, lex AS (
  SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY doc_id
), lex_rank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r_lex
  FROM lex
  QUALIFY r_lex <= {ARM_K}
), qv AS (
  SELECT CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {SCALE}.0) AS BIGINT) AS q,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), ev AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {SCALE}.0) AS BIGINT) AS e,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE vec_id <> {QUERY_VEC_ID}
), dots AS (
  SELECT vec_id AS doc_id, CAST(SUM(e * q) AS BIGINT) AS dot
  FROM ev JOIN qv USING (dim) GROUP BY 1
), vec_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY dot DESC, doc_id) AS r_vec
  FROM dots
  QUALIFY r_vec <= {ARM_K}
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       CAST(l.r_lex AS BIGINT) AS r_lex,
       CAST(v.r_vec AS BIGINT) AS r_vec,
       CAST(COALESCE({SCALE} // ({RRF_K} + l.r_lex), 0)
            + COALESCE({SCALE} // ({RRF_K} + v.r_vec), 0) AS BIGINT) AS rrf_micro
FROM lex_rank l FULL JOIN vec_rank v ON l.doc_id = v.doc_id
ORDER BY rrf_micro DESC, doc_id
LIMIT {TOP_OUT}
"""

QUERIES = {"hybrid_search_rrf": hybrid_search_rrf}
ORACLES = {"hybrid_search_rrf": ORACLE_HYBRID}
