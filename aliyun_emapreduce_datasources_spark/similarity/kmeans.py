"""Distributed Lloyd's k-means over the embeddings table — the full
training loop, not just the capped-sample quantizer fit in ivf.py.

Each iteration is the classic two-job Spark shape:

- **Assign**: the k centroids live in a k-row DataFrame that collapses
  to ONE packed row and broadcast-cross-joins the corpus; distance is
  an in-row integer zip_with/aggregate fold and the arg-min is a
  per-vector window over k candidate rows. Centroids flow as DATA, not
  per-iteration literals: the generated code is identical every
  iteration (codegen cache hit instead of a fresh multi-hundred-line
  class per round) and nothing touches the driver at any scale.
- **Update**: members explode to (cluster, dim, component) and one
  hash shuffle on (cluster, dim) produces component sums/counts; the
  new centroid component is the truncating integer division
  sum DIV count. The k x dims result is localCheckpoint'd (k rows —
  materialized, lineage truncated) and feeds the next iteration.

Determinism: embeddings quantize to integer micro-units
(similarity/intdot.py); squared L2, sums, and truncating division are
all exact int64 in both engines, and ties (distance, then cluster id)
break identically — so the ENTIRE 4-iteration run is byte-exact and
the DuckDB oracle is the same loop UNROLLED into CTEs (assignment
join on dim, update group-by), like the unrolled PageRank oracle in
operators/graph.py. Clusters that lose all members are dropped (both
engines derive the next centroid set from the surviving groups).

100 TB shape: per iteration one scan + one (cluster, dim)-key shuffle
of exploded components; k*dims stays driver-sized for any practical
k. For billion-vector corpora you'd mini-batch the update — the plan
shape per batch is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.similarity.intdot import QSCALE, quantized

__all__ = ["QUERIES", "ORACLES", "emb_kmeans_train"]

K = 8
ITERS = 4


def _assign_partials(q: DataFrame, labels: list, C: np.ndarray, final: bool) -> DataFrame:
    """One Arrow map pass over the quantized corpus against the k
    centroids (collected to the driver — k×dims scalars, the same
    driver-sized hop as ivf.train_centroids).

    ``final=False`` (the update step): per batch, assign every vector
    to its exact-int64 nearest centroid AND emit the per-(cluster,
    dim) partial component sums + member counts — assignment and
    update fused into one pass, so an iteration is a single job whose
    shuffle carries O(batches · k · dims) partial rows instead of the
    exploded O(vectors · dims) rows, and the per-vector row_number
    window (a full corpus shuffle + sort per iteration) is gone
    entirely: numpy argmin IS the old ``ORDER BY d, cluster`` pick
    (first minimum, centroid rows sorted by cluster id). int64
    arithmetic wraps exactly like the JVM long, so every sum matches
    the exploded plan bit-for-bit — pinned by the unchanged unrolled
    DuckDB oracle.

    ``final=True``: emit one (cluster, d) row per vector for the
    readout aggregate. A NULL / length-mismatched vector keeps the
    legacy NULL-distance contract: lowest cluster, NULL d, no update
    contribution (the old posexplode likewise skipped it)."""
    lab_arr = np.asarray(labels, dtype=np.int64)
    Cm = C.astype(np.int64)
    k, dims = Cm.shape

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            good_rows, good_idx = [], []
            for i, v in enumerate(pdf["q"]):
                if v is None or len(v) != dims:
                    continue
                a = np.asarray(v)
                if a.dtype.kind not in "iu":
                    # NULL elements arrive as NaN through Arrow — the
                    # legacy fold made such distances NULL (bad row)
                    af = a.astype(np.float64)
                    if np.isnan(af).any():
                        continue
                    a = af.astype(np.int64)
                good_rows.append(a.astype(np.int64))
                good_idx.append(i)
            Q = np.vstack(good_rows) if good_rows else np.zeros((0, dims), np.int64)
            with np.errstate(over="ignore"):
                d = np.empty((len(Q), k), dtype=np.int64)
                for j in range(k):
                    diff = Q - Cm[j]
                    d[:, j] = np.einsum("ij,ij->i", diff, diff)
            am = d.argmin(axis=1) if len(Q) else np.zeros(0, dtype=np.int64)
            if final:
                out_cl = np.full(len(pdf), lab_arr[0], dtype=np.int64)
                out_d = np.full(len(pdf), np.nan)
                if len(Q):
                    gi = np.asarray(good_idx)
                    out_cl[gi] = lab_arr[am]
                    out_d[gi] = d[np.arange(len(Q)), am].astype(np.float64)
                yield pd.DataFrame(
                    {
                        "cluster": out_cl,
                        "d": pd.array(
                            [None if np.isnan(x) else int(x) for x in out_d],
                            dtype="Int64",
                        ),
                    }
                )
            else:
                if not len(Q):
                    continue
                with np.errstate(over="ignore"):
                    S = np.zeros((k, dims), dtype=np.int64)
                    np.add.at(S, am, Q)
                cnt = np.bincount(am, minlength=k).astype(np.int64)
                occ = np.flatnonzero(cnt)
                ci, di = np.meshgrid(occ, np.arange(dims), indexing="ij")
                yield pd.DataFrame(
                    {
                        "cluster": lab_arr[ci.ravel()],
                        "dim": di.ravel().astype(np.int64),
                        "s": S[ci.ravel(), di.ravel()],
                        "n": cnt[ci.ravel()],
                    }
                )

    schema = "cluster long, d long" if final else "cluster long, dim long, s long, n long"
    return q.select("q").mapInPandas(run, schema)


def _collect_cents(rows) -> tuple[list, np.ndarray]:
    """(sorted cluster labels, matching (k, dims) int64 centroid
    matrix) from collected (cluster, dim, qc) rows."""
    by_cluster: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cluster.setdefault(int(r["cluster"]), {})[int(r["dim"])] = int(r["qc"])
    labels = sorted(by_cluster)
    C = np.array(
        [[by_cluster[c][d] for d in sorted(by_cluster[c])] for c in labels],
        dtype=np.int64,
    )
    return labels, C


def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: 4 Lloyd iterations, k=8, init = the k smallest
    vec_ids; output per surviving cluster (cluster, n_points,
    inertia) — all exact integers. Each iteration is ONE fused
    assign+partial-sum map pass (see _assign_partials); the truncating
    ``s DIV n`` centroid division stays a Spark expression so the
    engine/oracle integer semantics cannot drift."""
    q = quantized(spark, sf_dir).select("vec_id", F.col("qe").alias("q")).persist()
    seed = q.orderBy("vec_id").limit(K).collect()
    if not seed:
        return spark.createDataFrame([], "cluster long, n_points long, inertia long")
    labels = list(range(len(seed)))
    C = np.array([[int(x) for x in r["q"]] for r in seed], dtype=np.int64)

    for _ in range(ITERS):
        partials = _assign_partials(q, labels, C, final=False)
        rows = (
            partials.groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .select("cluster", "dim", F.expr("s DIV n").alias("qc"))
            .collect()
        )
        labels, C = _collect_cents(rows)

    final = _assign_partials(q, labels, C, final=True)
    return (
        final.groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_points"), F.sum("d").cast("long").alias("inertia"))
        .orderBy("cluster")
    )


def _oracle() -> str:
    tdiv = lambda num, den: f"CASE WHEN {num} < 0 THEN -((-({num})) // ({den})) ELSE ({num}) // ({den}) END"
    parts = [
        f"""
WITH emb_exp AS (
  SELECT vec_id,
         CAST(i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * {QSCALE}.0) AS BIGINT) AS qe
  FROM (
    SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
), init_ids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
  FROM (SELECT DISTINCT vec_id FROM emb_exp ORDER BY vec_id LIMIT {K})
), c0 AS (
  SELECT i.cluster, e.dim, e.qe AS qc
  FROM init_ids i JOIN emb_exp e ON i.vec_id = e.vec_id
)"""
    ]
    for i in range(ITERS):
        parts.append(
            f""", a{i} AS (
  SELECT e.vec_id, c.cluster, CAST(SUM((e.qe - c.qc) * (e.qe - c.qc)) AS BIGINT) AS d
  FROM emb_exp e JOIN c{i} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cluster
), asg{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM a{i}
  ) WHERE rn = 1
), c{i + 1} AS (
  SELECT s.cluster, e.dim,
         CAST({tdiv('SUM(e.qe)', 'COUNT(*)')} AS BIGINT) AS qc
  FROM asg{i} s JOIN emb_exp e ON s.vec_id = e.vec_id
  GROUP BY s.cluster, e.dim
)"""
        )
    parts.append(
        f""", afinal AS (
  SELECT e.vec_id, c.cluster, CAST(SUM((e.qe - c.qc) * (e.qe - c.qc)) AS BIGINT) AS d
  FROM emb_exp e JOIN c{ITERS} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cluster
), afinal_min AS (
  SELECT vec_id, cluster, d FROM (
    SELECT vec_id, cluster, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM afinal
  ) WHERE rn = 1
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points, CAST(SUM(d) AS BIGINT) AS inertia
FROM afinal_min
GROUP BY cluster
ORDER BY cluster"""
    )
    return "".join(parts)


ORACLE_KMEANS = _oracle()

QUERIES = {"emb_kmeans_train": emb_kmeans_train}
ORACLES = {"emb_kmeans_train": ORACLE_KMEANS}
