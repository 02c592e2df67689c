"""The pair core of the dedup pair pipelines (minhash, ngram,
containment, simhash, winnow, media near-dup): the postings overlap
kernel and the one checkpointed-result tail. Candidate generation and
verification stay with each pipeline."""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["materialized_pairs", "overlap_counts"]


def overlap_counts(postings: DataFrame, keys: list[str], n_col: str) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, n_shared) for every pair doc_a < doc_b
    sharing a posting: the postings self-join on equal ``keys``,
    grouped per pair. ``postings`` holds one row per distinct
    (doc_id, posting), so ``n_shared`` is the intersection size;
    ``n_a``/``n_b`` carry each side's ``n_col`` (its set size) for the
    caller's ratio. Shuffle volume is O(total postings), never
    O(pairs × set size)."""
    a, b = postings.alias("a"), postings.alias("b")
    on = reduce(
        and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col("a.doc_id") < F.col("b.doc_id")],
    )
    return (
        a.join(b, on)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"a.{n_col}").alias("n_a"),
            F.col(f"b.{n_col}").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def materialized_pairs(
    shared: DataFrame,
    build: Callable[[DataFrame], DataFrame],
    *,
    fill: bool,
    materialize: bool = True,
) -> DataFrame:
    """``build(shared)`` as an eagerly checkpointed pair result.

    ``shared`` is persisted because every join side of the build reads
    it; ``fill`` counts it first (the signature and fingerprint callers
    do; the postings callers let the checkpoint job fill it). Then:

    - the result is an eager ``localCheckpoint``, NOT a persist: it
      truncates the plan to one LogicalRDD leaf for the check and
      cluster entries that read the pairs several times. Under persist
      every consumer carried the whole pipeline, and re-analysis alone
      took seconds (``dedup_minhash_precision_check`` 4.4 → 16.7 s,
      r12). The small pair blocks riding until a driver GC are cheaper.
    - ``shared`` is released at once: an unreferenced cache is freed
      only when a JVM GC lets the ContextCleaner see it, the heap debt
      that made these walls GC-cadence-coupled (r10 verdict ask #2).

    ``materialize=False`` returns ``build(shared)`` lazily, for plan
    inspection only. Holds no state, so pair sides may be built from a
    thread pool (``dedup/properties.py``)."""
    if not materialize:
        return build(shared)
    shared.persist()
    if fill:
        shared.count()
    out = build(shared).localCheckpoint(eager=True)
    shared.unpersist()
    return out
