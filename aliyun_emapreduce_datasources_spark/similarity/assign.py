"""Nearest-prototype assignment (cluster-balanced curation).

Assigns every embedding to its nearest per-label centroid — the core
of SemDeDup-style semantic clustering, classifier-free domain
bucketing, and cluster-balanced sampling: compute prototypes (see
``centroid.py``), then route every vector to the closest one.

Scale shape: the prototype table is labels × dims — bytes, not data —
so it rides along as an in-plan literal (a broadcast in spirit; no
shuffle, no join). Each vector expands to exactly |labels| candidate
rows whose distance is an in-row integer fold (`zip_with` +
`aggregate`), and the arg-min is a per-vector window over those
|labels| rows — shuffle volume is O(vectors × labels), with the
vector payload dropped before the shuffle.

Determinism: distances are computed in integer micro-units
(floor(double(x) * 1e6); see centroid.py for why decimal casts are
NOT cross-engine stable) — squared L2 in int64 is exact in both
engines, so the arg-min (ties broken by label) is bit-reproducible.
Micro-unit squared distances stay < 2⁵³ for unit-scale embeddings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t
from aliyun_emapreduce_datasources_spark.similarity.centroid import label_centroids
from aliyun_emapreduce_datasources_spark.similarity.intdot import micro, micro_np

__all__ = ["assign_to_prototype", "nearest_prototype", "QUERY", "ORACLE"]


def nearest_prototype(emb: DataFrame, labels: list, cent_mat: np.ndarray) -> DataFrame:
    """(vec_id, label, dist_sq_micro): exact integer-micro nearest-
    prototype arg-min as ONE Arrow-batched map pass — no shuffle at
    any scale.

    The original plan exploded every vector into |labels| candidate
    rows, evaluated the squared-L2 fold through interpreted
    higher-order expressions (zip_with/aggregate never enter
    whole-stage codegen), and arg-min'd with a per-vector row_number
    window — a full corpus shuffle + sort whose only job was picking a
    row the map side already had in hand. Here each batch quantizes to
    int64 micro units (same ``floor(float64(x)·1e6)``), computes all
    |labels| exact integer distances vectorized, and keeps the arg-min
    (numpy argmin returns the FIRST minimum, and ``labels`` is sorted
    ascending — identical to the old ``ORDER BY dist, label`` pick).
    int64 arithmetic wraps exactly like the JVM long, so results are
    bit-identical — pinned by the unchanged DuckDB oracle.

    ``labels`` must be sorted ascending; ``cent_mat`` is the matching
    (|labels|, dims) int64 matrix. A NULL / length-mismatched
    embedding keeps the legacy NULL-distance row (lowest label,
    NULL dist) the window formulation emitted."""
    lab_arr = np.asarray(labels, dtype=np.int64)
    C = cent_mat.astype(np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            good_rows = []
            good_idx = []
            for i, v in enumerate(pdf["embedding"]):
                if v is None or len(v) != C.shape[1]:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if np.isnan(a).any():
                    # NULL components arrive as NaN: the legacy fold
                    # made such distances NULL (bad row) — mirror it
                    continue
                good_rows.append(a)
                good_idx.append(i)
            out_label = np.full(len(pdf), lab_arr[0], dtype=np.int64)
            out_dist = np.full(len(pdf), np.nan)
            if good_rows:
                Q = micro_np(np.vstack(good_rows)).astype(np.int64)
                with np.errstate(over="ignore"):
                    # exact int64: d_kj = Σ (q_j − c_k)²
                    d = np.empty((len(Q), len(C)), dtype=np.int64)
                    for k in range(len(C)):
                        diff = Q - C[k]
                        d[:, k] = np.einsum("ij,ij->i", diff, diff)
                am = np.argmin(d, axis=1)
                gi = np.asarray(good_idx)
                out_label[gi] = lab_arr[am]
                out_dist[gi] = d[np.arange(len(Q)), am].astype(np.float64)
            res = pd.DataFrame(
                {
                    "vec_id": vids,
                    "label": out_label,
                    "dist_sq_micro": pd.array(
                        [None if np.isnan(x) else int(x) for x in out_dist],
                        dtype="Int64",
                    ),
                }
            )
            yield res

    return ensure_parallelism(emb.select("vec_id", "embedding")).mapInPandas(
        run, "vec_id long, label long, dist_sq_micro long"
    )


def assign_to_prototype(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = (
        label_centroids(spark, sf_dir)
        .withColumn("qc", micro(F.col("centroid")))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "qc"))).alias("qs"))
        .select("label", F.col("qs.qc").alias("qcent"))
        .collect()
    )  # labels × dims scalars — the one legitimate driver hop
    if not cents:
        return spark.createDataFrame(
            [], "vec_id long, label long, dist_sq_micro long"
        )
    rows = sorted(cents, key=lambda r: r.label)
    labels = [int(r.label) for r in rows]
    cent_mat = np.array([[int(v) for v in r.qcent] for r in rows], dtype=np.int64)
    emb = t(spark, sf_dir, "embeddings")
    return nearest_prototype(emb, labels, cent_mat)


QUERY = assign_to_prototype

# CTE chain shared with the prototype-quality join below (appended
# after another WITH prefix there, hence no leading WITH)
_ASSIGN_CTES = """exploded AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS qe,
         CAST(i - 1 AS BIGINT) AS dim
  FROM (
    SELECT vec_id, label, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
), cent AS (
  SELECT CAST(label AS BIGINT) AS label, dim,
         CAST(FLOOR(
           CAST(CAST(SUM(qe) AS BIGINT) AS DOUBLE) / (COUNT(*) * 1000000.0) * 1000000.0
         ) AS BIGINT) AS qc
  FROM exploded GROUP BY label, dim
), dist AS (
  SELECT e.vec_id, c.label,
         CAST(SUM((e.qe - c.qc) * (e.qe - c.qc)) AS BIGINT) AS dist_sq_micro
  FROM exploded e JOIN cent c ON e.dim = c.dim
  GROUP BY e.vec_id, c.label
), assigned AS (
  SELECT vec_id, label, dist_sq_micro
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq_micro, label) AS rn
    FROM dist
  )
  WHERE rn = 1
)"""

ORACLE = f"""
WITH {_ASSIGN_CTES}
SELECT vec_id, label, dist_sq_micro FROM assigned
"""


# --- prototype × quality cross-family join -------------------------------

def emb_quality_by_prototype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level quality profile: join the nearest-prototype
    assignment (this module) with the Gopher rule verdicts
    (functions/text.gopher_signals) on vec_id = doc_id, then report
    per-prototype population, pass count, pass rate, and total squared
    distance — the readout a cluster-balanced curation run uses to
    decide WHICH semantic buckets are quality-starved before it
    rebalances the mix.

    Scale shape: both inputs reduce before joining (assignment is one
    row per vector, verdicts one per doc), the join key is the table
    primary key, and the final agg lands on |labels| rows. Determinism:
    counts are exact ints; keep_rate is the single-division convention.
    """
    from aliyun_emapreduce_datasources_spark.functions.text import gopher_signals

    assigned = assign_to_prototype(spark, sf_dir)
    verdicts = gopher_signals(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "keep")
    return (
        assigned.join(verdicts, assigned.vec_id == verdicts.doc_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
            F.sum("dist_sq_micro").cast("long").alias("sum_dist_sq_micro"),
        )
        .withColumn(
            "keep_rate", F.col("n_keep").cast("double") / F.col("n_vecs")
        )
        .orderBy("label")
    )


def _oracle_quality_by_prototype() -> str:
    from aliyun_emapreduce_datasources_spark.functions.text import _GOPHER_CTE

    return f"""{_GOPHER_CTE}, {_ASSIGN_CTES},
verdicts AS (
  SELECT doc_id,
         r_word_count AND r_word_len AND r_symbol AND r_alpha AND r_stopwords
           AS keep
  FROM rules
)
SELECT a.label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(a.dist_sq_micro) AS BIGINT) AS sum_dist_sq_micro,
       CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS keep_rate
FROM assigned a JOIN verdicts v ON a.vec_id = v.doc_id
GROUP BY a.label
ORDER BY a.label
"""


QUERIES = {"emb_quality_by_prototype": emb_quality_by_prototype}
ORACLES = {"emb_quality_by_prototype": _oracle_quality_by_prototype()}
