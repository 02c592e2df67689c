"""Winnowing rolling-hash document fingerprints (Schleimer, Wilkerson,
Aiken '03 — the MOSS local fingerprinting algorithm).

Per document: polynomial rolling hashes of all character k-grams
(base-257 mod 2⁶⁴, fully vectorized — one sliding-window matmul with
natural uint64 wraparound), then the minimum hash of every w-hash
window; the distinct window-minima are the fingerprint set. Guarantee:
any shared substring of length ≥ k + w − 1 yields at least one shared
fingerprint, so near-dup pairs are found by an exact fingerprint
equi-join — postings-shaped shuffle, O(total fingerprints), the same
scale geometry as dedup/ngram.py.

Candidate generation is PPJoin-style prefix-filtered (Xiao, Wang, Lin,
Yu '08 — published practice, the round-4 scaling measurement's named
remedy): fingerprints get a global rarest-first order (ascending
document frequency), each doc keeps only its first
``n − ⌈t·n⌉ + 1`` fingerprints as its PREFIX, and candidates are
prefix-of-the-smaller-doc ⨝ full-postings-of-the-larger. Any pair
with containment ≥ t on the smaller set must intersect inside that
prefix (pigeonhole: the suffix holds only ⌈t·n⌉ − 1 < required-overlap
slots), so no qualifying pair is lost; candidates are then verified
with the exact shared-fingerprint count — the OUTPUT is bit-identical
to the plain postings self-join (pinned by
tests/test_dedup.py::test_winnow_prefix_filter_matches_plain_join),
but the join work no longer pays Σ_fp C(df, 2) over mid-df
fingerprint families: common fingerprints rarely survive into
prefixes (they are, by the ordering, each doc's LEAST rare tokens),
which is what caps the measured 86.6× postings-join growth
(tools/scaling_curve.py records both curves).

Fingerprints were long treated as implementation-defined numbers,
but the polynomial rolling hash is pure mod-2^64 integer arithmetic —
fully reproducible in SQL — so since round 8 the operator has a
complete DuckDB twin (ORACLE below, staged for promotion; ASCII-text
contract documented there). The containment-vs-exact-Jaccard property
in tests/test_dedup.py remains as the semantic check.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.dedup.pairs import materialized_pairs, overlap_counts
from aliyun_emapreduce_datasources_spark.operators.common import ensure_parallelism, t

__all__ = [
    "winnow_fingerprints",
    "winnow_dedup_pairs",
    "winnow_pairs_from_fingerprints",
    "QUERY",
    "ORACLE",
]

KGRAM = 16
WINDOW = 8
# relative containment: shared fingerprints / smaller doc's
# fingerprint count — robust to length mismatch, unlike an absolute
# shared-count threshold
MIN_CONTAINMENT = 0.5

FP_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("fp", T.LongType())]
)

_BASE = np.uint64(257)


def _winnow(text: str, k: int = KGRAM, w: int = WINDOW) -> np.ndarray:
    b = np.frombuffer(text.encode("utf-8", errors="replace"), dtype=np.uint8).astype(np.uint64)
    if len(b) < k:
        return np.zeros(0, dtype=np.int64)
    weights = _BASE ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    grams = np.lib.stride_tricks.sliding_window_view(b, k)  # (n-k+1, k)
    hashes = grams @ weights  # uint64 wraparound == mod 2^64
    if len(hashes) < w:
        mins = np.array([hashes.min()], dtype=np.uint64)
    else:
        mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    return np.unique(mins).view(np.int64)


def winnow_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp) postings — one row per distinct window-min hash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                f = _winnow(text)
                ids.append(np.full(len(f), did, dtype=np.int64))
                fps.append(f)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
                )

    return ensure_parallelism(docs.select(id_col, text_col)).mapInPandas(run, FP_SCHEMA)


def _prefix_postings(
    fps: DataFrame, min_containment: float, _slack: int = 1
) -> DataFrame:
    """(doc_id, fp, n_fp) keeping only each doc's PREFIX under the
    global rarest-first fingerprint order (ascending document
    frequency, fp as tie-break): the first n − ⌈t·n⌉ + 1 of its n
    fingerprints. Pigeonhole guarantee: a pair with shared-count
    ≥ ⌈t·n⌉ against this doc cannot fit its whole intersection in the
    remaining ⌈t·n⌉ − 1 suffix slots, so at least one shared
    fingerprint is in the prefix. The 1e-9 epsilon keeps float
    round-up (e.g. 0.55 · 20 = 11.000000000000002) from over-sizing
    ⌈t·n⌉ and silently under-sizing the prefix; thresholds this close
    to an integer only ever round DOWN to the exact bound, never
    below it. ``_slack`` is the ``+ 1`` pigeonhole term, exposed ONLY
    for the mutation-sensitivity test
    (tests/test_dedup.py::test_winnow_prefix_shorter_by_one_diverges);
    production callers never pass it. Shared with
    tools/scaling_curve.py so the measured work curve is the shipped
    code path."""
    from pyspark.sql import Window

    df_fp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    # n_fp rides the SAME per-doc exchange as the rank window (a
    # partition-only window adds no sort and no shuffle) instead of a
    # separate full-postings aggregate + join-back — one exchange
    # fewer on the 100 TB postings table, same values (fps carries one
    # row per distinct (doc, fp), so the partition count IS n_fp)
    ranked = (
        fps.join(df_fp, "fp")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("fp").asc()
                )
            ),
        )
        .withColumn(
            "n_fp", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    required = F.ceil(
        F.lit(min_containment) * F.col("n_fp") - F.lit(1e-9)
    ).cast("int")
    return (
        ranked.where(F.col("pos") <= F.col("n_fp") - required + F.lit(int(_slack)))
        .select("doc_id", "fp", "n_fp")
    )


def winnow_dedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_containment: float = MIN_CONTAINMENT,
    prefix_filter: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, containment) pairs whose shared winnowing
    fingerprints cover ≥ min_containment of the smaller doc's
    fingerprint set.

    ``prefix_filter=True`` (default, the 100 TB path) generates
    candidates as smaller-doc-prefix ⨝ larger-doc-full-postings under
    the rarest-first order, then verifies each candidate with the
    exact shared count — same output as the plain self-join
    (``prefix_filter=False``, kept as the differential twin), without
    Σ_fp C(df, 2) join work on mid-df fingerprint families."""
    # NULL-text docs carry no shingles/fingerprint — the pandas UDFs
    # would crash on None; skip them like every per-text operator
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return materialized_pairs(
        winnow_fingerprints(docs),
        lambda fps: winnow_pairs_from_fingerprints(fps, min_containment, prefix_filter),
        fill=False,
    )


def winnow_pairs_from_fingerprints(
    fps: DataFrame,
    min_containment: float = MIN_CONTAINMENT,
    prefix_filter: bool = True,
) -> DataFrame:
    """Pair generation + exact verify over an existing (doc_id, fp)
    postings DataFrame — the core both winnow_dedup_pairs paths share.
    Exposed so the prefix-filter equivalence can be pinned on
    constructed fingerprint corpora with EXACT boundary containments
    (text-level winnowing can't place fingerprints precisely):
    tests/test_dedup.py::test_winnow_prefix_filter_matches_plain_join."""
    counts = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    if not prefix_filter:
        pairs = overlap_counts(fps.join(counts, "doc_id"), ["fp"], "n_fp")
        containment = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
        return pairs.select(
            "doc_a", "doc_b", containment.alias("containment")
        ).where(F.col("containment") >= min_containment)

    pre = _prefix_postings(fps, min_containment)
    full = fps.join(counts, "doc_id")
    # candidates: the SMALLER doc probes with its prefix into the
    # larger doc's full postings (n-ties broken by doc_id so each
    # unordered pair is generated from exactly one side)
    smaller = (F.col("s.n_fp") < F.col("l.n_fp")) | (
        (F.col("s.n_fp") == F.col("l.n_fp"))
        & (F.col("s.doc_id") < F.col("l.doc_id"))
    )
    cand = (
        pre.alias("s")
        .join(full.alias("l"), (F.col("s.fp") == F.col("l.fp")) & smaller)
        .select(
            F.col("s.doc_id").alias("da"),
            F.col("l.doc_id").alias("db"),
        )
        .dropDuplicates(["da", "db"])
    )
    # exact verify: shared-fingerprint count via an in-row
    # array_intersect of the two docs' (distinct, sorted) fingerprint
    # sets — two joins of the small candidate list against a per-doc
    # array table, instead of re-exploding the full postings through a
    # candidate join + groupBy + two count join-backs (r11
    # optimization, guide §2.3/§2.4: A/B at sf0.1 4.8-5.9 → 4.1-4.3 s
    # for the entry, identical pairs). fps carries one row per
    # distinct (doc, fp), so the collected array IS the fingerprint
    # set and the intersect size IS the old join-count.
    arrs = fps.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("fp")).alias("fps"),
        F.count(F.lit(1)).alias("n_fp"),
    )
    pairs = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("da"),
                F.col("fps").alias("a_fps"),
                F.col("n_fp").alias("n_a"),
            ),
            "da",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("db"),
                F.col("fps").alias("b_fps"),
                F.col("n_fp").alias("n_b"),
            ),
            "db",
        )
        .withColumn("n_shared", F.size(F.array_intersect("a_fps", "b_fps")))
    )
    containment = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            containment.alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


QUERY = winnow_dedup_pairs


def _oracle_winnow() -> str:
    """Full DuckDB twin of QUERY — no engine change needed: the
    polynomial rolling hash is already pure mod-2^64 integer
    arithmetic, so the oracle recomputes it with 16 precomputed
    257^j mod 2^64 constants in HUGEINT (term sum < 2^77, exact),
    takes the same w-window minima over the UNSIGNED values (pair
    generation only ever tests fingerprint EQUALITY, so no signed
    view is needed anywhere), and verifies the same containment over
    the plain postings self-join — bit-identical to the engine's
    prefix-filtered plan by the pinned equivalence
    (test_winnow_prefix_filter_matches_plain_join).

    CONTRACT: value-parity holds for single-byte (ASCII) text — the
    engine hashes UTF-8 BYTES while SQL's substr/ascii walk
    CODEPOINTS; the driver corpus (and its nulled twin) is ASCII, so
    the two walks agree. A multibyte corpus would need a byte-level
    SQL walk (octet_length/blob slicing) instead."""
    two64 = "(CAST(1 AS HUGEINT) << 64)"
    terms = " + ".join(
        f"CAST(ascii(substr(text, i.i + {j}, 1)) AS HUGEINT) * "
        f"CAST({pow(257, KGRAM - 1 - j, 1 << 64)} AS HUGEINT)"
        for j in range(KGRAM)
    )
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) >= {KGRAM}
), h AS MATERIALIZED (
  SELECT doc_id, i.i AS i, ({terms}) % {two64} AS hu
  FROM docs,
       LATERAL (SELECT unnest(generate_series(1, length(text) - {KGRAM - 1})) AS i) i
), wm AS (
  SELECT doc_id, i,
         MIN(hu) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {WINDOW - 1} FOLLOWING) AS m,
         COUNT(*) OVER (PARTITION BY doc_id) AS nh
  FROM h
), fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, m FROM wm WHERE i <= nh - {WINDOW - 1}
  UNION
  SELECT doc_id, MIN(hu) AS m FROM h
  GROUP BY doc_id HAVING COUNT(*) < {WINDOW}
), cnt AS (
  SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN fp b ON a.m = b.m AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.n_shared AS DOUBLE) / LEAST(ca.n_fp, cb.n_fp) AS containment
FROM shared s
JOIN cnt ca ON ca.doc_id = s.doc_a
JOIN cnt cb ON cb.doc_id = s.doc_b
WHERE CAST(s.n_shared AS DOUBLE) / LEAST(ca.n_fp, cb.n_fp) >= {MIN_CONTAINMENT}
"""


ORACLE = _oracle_winnow()
