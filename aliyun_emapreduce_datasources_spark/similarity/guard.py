"""Driver-side query-batch guard for the ANN operators.

Every ANN entry point collects the QUERY side to the driver (to
broadcast a probe matrix); that contract is only safe while the query
batch is small relative to the corpus. An unguarded `.collect()` turns
a mis-aimed call (query table = corpus table) into a silent driver
OOM — so the collect is capped: `limit(cap + 1)` bounds what can ever
reach the driver, and crossing the cap raises with the remediation
(chunk the query batch, or flip the call so the big side is the
corpus, which always stays distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "MAX_QUERY_ROWS",
    "MAX_EVAL_ROWS",
    "collect_query_batch",
    "assert_probe_sized",
]

# 100k queries x 64-dim float64 ~ 51 MB on the driver / per broadcast —
# comfortable; beyond it the broadcast-matrix formulation stops being
# the right plan.
MAX_QUERY_ROWS = 100_000


def collect_query_batch(queries: DataFrame, columns: list[str], cap: int = MAX_QUERY_ROWS):
    """Collect the query side, refusing loudly above ``cap`` rows.

    The limit is applied in-plan (`limit(cap+1)`), so the driver never
    materializes more than cap+1 rows even when the check fails."""
    rows = queries.select(*columns).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"ANN query batch exceeds the driver-side cap ({cap} rows). "
            "The query side is collected and broadcast by contract; for "
            "larger batches, chunk the queries or swap the sides so the "
            "large table is the (always-distributed) corpus."
        )
    return rows


# The exact pairwise eval kernels on intdot.block_cogroup
# (label_noise.exact_knn_topk and its consumers eval_mrr_at_k /
# emb_hard_negatives / the label-noise audit, eval_kendall_tau,
# emb_bitext_mine) are O(n²/B) TOTAL work by
# definition — auto-blocking bounds the per-task size but nothing
# bounds the pair total. Their contract is PROBE-SIZED eval sets
# (the ANN operators are the corpus-scale path; the exact kernels are
# their recall/quality references). 100k rows ⇒ 10¹⁰ exact pairs —
# already hours of vectorized int work on a single node and the
# sensible ceiling for "eval set"; beyond it the caller almost
# certainly aimed the kernel at a corpus by mistake.
MAX_EVAL_ROWS = 100_000


def assert_probe_sized(df: DataFrame, op: str, cap: int = MAX_EVAL_ROWS) -> None:
    """Refuse loudly when an exact-pairwise eval kernel is pointed at
    more than ``cap`` rows. The probe count is taken through
    ``limit(cap + 1)``, so the check itself is O(cap) work no matter
    how large the mis-aimed input is."""
    n = df.limit(cap + 1).count()
    if n > cap:
        raise ValueError(
            f"{op}: input exceeds the exact-pairwise eval cap ({cap} "
            "rows). This kernel does O(n²) total pair work by contract "
            "and is meant for probe-sized eval sets; for corpus-scale "
            "neighbor search use the ANN operators (similarity/ivf.py, "
            "lsh.py, pq.py) and keep this kernel as their sampled "
            "recall reference, or raise cap= explicitly if the pair "
            "budget is truly intended."
        )


def empty_topk(spark):
    """Empty (query_id, neighbor_id, rnk) result — the well-defined
    answer every ANN variant returns when the query batch is empty
    (empty corpus, or a filter matched no query rows): no queries, no
    neighbors, instead of an IndexError on a zero-row matrix."""
    return spark.createDataFrame([], "query_id long, neighbor_id long, rnk long")
