"""Bloom-filter decontamination: the broadcast-membership variant of
dedup/decontaminate.py for the case where the eval/benchmark set is a
SEPARATE, benchmark-sized table and the training corpus is 100 TB.

The postings-window formulation shuffles every training shingle once;
when the eval side is small, that shuffle is pure waste — the right
plan compresses the eval shingle set into a bit array (classic Bloom
filter, k hash probes per element) and broadcasts the bits, turning
decontamination into a SCAN-ONLY pass over the corpus: no shuffle, no
join, per-task O(1) memory for the filter.

Properties (and what the tests pin):
- no false negatives: every truly-contaminated doc is flagged
  (superset of the exact join answer — guaranteed by construction);
- false positives bounded by the standard (1 - e^{-kn/m})^k rate —
  m is sized for the requested rate, and flagged docs can be
  re-checked exactly with the join variant on the tiny flagged subset
  (two-phase: cheap probabilistic scan, exact verify on survivors).
- deterministic: hash probes are xxhash64(shingle, seed_i) — same
  as decontaminate.py's posting hash family.

The filter is built ONCE from the eval table (driver-side numpy over
the collected eval shingle hashes — the eval set is benchmark-sized
by contract, the same "small by contract" guard as the ANN query
side) and broadcast as raw bits: 1 M shingles at 1% fp ≈ 1.2 MB.

Membership runs in a vectorized Arrow-batched pandas UDF (numpy bit
indexing over the broadcast array) — no per-row Python, no JVM
round-trips per probe.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.functions.text import shingles, tokens
from aliyun_emapreduce_datasources_spark.operators.common import t

__all__ = ["build_bloom", "bloom_decontaminate", "QUERY", "ORACLE", "CATALOG_HASH"]

MAX_EVAL_SHINGLES = 50_000_000  # guard: eval side is benchmark-sized

# Hash family for shingle hashing. "xxhash64" (JVM expression) is the
# library default; "md5" is ENGINE-PORTABLE — the 60-bit value named
# by the first 15 md5 hex chars, computed JVM-side via
# conv(substring(md5(s),1,15),16,10) and reproduced in DuckDB as
# CAST('0x'||substr(md5(s),1,15) AS BIGINT). 15 hex chars (not 16)
# keep the hash strictly positive, so there is no signed/unsigned
# split to reconcile anywhere in the probe arithmetic. The md5 family
# also switches _params to the INTEGER-EXACT pow2 scheme (below) —
# the optimal-m formula runs ln() through two different libms, and a
# 1-ulp disagreement on ceil()'s knife edge would shift every bit
# position.
CATALOG_HASH = "md5"
POW2_K = 7


def _params(n: int, fp_rate: float, scheme: str = "optimal") -> tuple[int, int]:
    """(m bits, k hashes) for n elements. scheme="optimal" is the
    textbook sizing at the target fp rate; scheme="pow2" is the
    integer-only portable sizing: m = smallest power of two >= 16n
    (so load n/m <= 1/16), k = 7 → fp <= (1 - e^(-7/16))^7 ≈ 7e-4 at
    ANY n, derived entirely with bit arithmetic both engines agree
    on."""
    n = max(n, 1)
    if scheme == "pow2":
        return max(64, 1 << (16 * n - 1).bit_length()), POW2_K
    m = int(np.ceil(-n * np.log(fp_rate) / (np.log(2) ** 2)))
    m = max(64, m)
    k = max(1, int(round(m / n * np.log(2))))
    return m, k


def _probe_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(hashes), k) bit positions via double hashing
    h1 + i*h2 mod m (Kirsch–Mitzenmacher)."""
    h1 = hashes % np.uint64(m)
    h2 = (hashes >> np.uint64(17) | np.uint64(1)) % np.uint64(m)
    return (h1[:, None] + np.arange(k, dtype=np.uint64)[None, :] * h2[:, None]) % np.uint64(m)


def build_bloom(
    eval_shingle_hashes: np.ndarray, fp_rate: float = 0.01, scheme: str = "optimal"
) -> tuple[np.ndarray, int, int]:
    """(packed bit array, m, k) from an array of uint64 hashes.

    m is the TRUE modulus — np.packbits pads to a byte boundary, so
    the probe side must use this m, never ``packed.size * 8``."""
    m, k = _params(len(eval_shingle_hashes), fp_rate, scheme)
    bits = np.zeros(m, dtype=bool)
    if len(eval_shingle_hashes):
        pos = _probe_positions(eval_shingle_hashes.astype(np.uint64), m, k)
        bits[pos.ravel()] = True
    return np.packbits(bits), m, k


OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_flagged", T.LongType()),
    ]
)


def _shingle_hash(s, hash_name: str):
    """64-bit (xxhash64) or positive 60-bit (md5) shingle hash — the
    md5 form stays a JVM expression (md5 + substring + conv), never a
    Python loop."""
    if hash_name == "md5":
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    return F.xxhash64(s)


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    fp_rate: float = 0.01,
    hash_name: str = "xxhash64",
) -> DataFrame:
    """(doc_id, n_flagged) for every training doc with ≥1 shingle that
    the filter reports as present in the eval set. Scan-only over the
    training side. hash_name="md5" is the engine-portable variant
    (integer-exact pow2 filter sizing — see CATALOG_HASH note)."""
    scheme = "pow2" if hash_name == "md5" else "optimal"
    eval_hashes_rows = (
        eval_df.select(
            F.explode(
                F.transform(
                    F.array_distinct(shingles(tokens("text"))),
                    lambda s: _shingle_hash(s, hash_name),
                )
            ).alias("h")
        )
        .distinct()
        .limit(MAX_EVAL_SHINGLES + 1)
        .collect()
    )
    if len(eval_hashes_rows) > MAX_EVAL_SHINGLES:
        raise ValueError(
            f"eval shingle set exceeds MAX_EVAL_SHINGLES={MAX_EVAL_SHINGLES}; "
            "the eval side is benchmark-sized by contract — for corpus-sized "
            "sides use dedup/decontaminate.py's postings-window form"
        )
    # int64 → uint64 bit pattern (xxhash64 is signed on the JVM side;
    # the md5 variant is already positive so this is the identity)
    eh = np.array([r.h for r in eval_hashes_rows], dtype=np.int64).astype(np.uint64)
    packed, m, k = build_bloom(eh, fp_rate, scheme)

    train_hashed = train.select(
        "doc_id",
        F.transform(
            F.array_distinct(shingles(tokens("text"))),
            lambda s: _shingle_hash(s, hash_name),
        ).alias("hs"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.unpackbits(packed).astype(bool)
        for pdf in batches:
            if pdf.empty:
                continue
            ids, counts = [], []
            for doc_id, hs in zip(pdf["doc_id"], pdf["hs"]):
                # hs is None when the source text is NULL (tokens →
                # shingles → transform all propagate null) — treat as
                # an empty shingle set, don't crash the task
                if hs is None or len(hs) == 0:
                    continue
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                pos = _probe_positions(h, m, k)
                hit = bits[pos].all(axis=1)
                n = int(hit.sum())
                if n:
                    ids.append(doc_id)
                    counts.append(n)
            yield pd.DataFrame({"doc_id": ids, "n_flagged": counts})

    return train_hashed.mapInPandas(run, OUT_SCHEMA)


def QUERY(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same eval split as dedup/decontaminate.py (doc_id % 10 == 0):
    train = the rest. Under CATALOG_HASH = "md5" the whole filter —
    hash placement, pow2 sizing, double-hash probes — is DuckDB-
    reproducible, so the "probabilistic" operator is in fact fully
    value-oracled (ORACLE below, staged for promotion); the
    no-false-negative superset property vs the exact operator remains
    pinned in tests/test_dedup.py."""
    docs = t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    eval_df = docs.where(F.col("doc_id") % 10 == 0).select("text")
    return bloom_decontaminate(train, eval_df, hash_name=CATALOG_HASH)


def _oracle_bloom() -> str:
    """DuckDB twin of QUERY under CATALOG_HASH = "md5": rebuild the
    exact bit set (positions from all distinct eval shingles), probe
    every train shingle with the same k=7 double-hash positions, and
    flag a shingle when ALL its probe rows find their bit (COUNT = k
    over the inner join — duplicate positions count twice on both
    sides, exactly like the engine's bits[pos].all(axis=1))."""
    from aliyun_emapreduce_datasources_spark.dedup.decontaminate import _O_SH

    h = "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)"
    return f"""
WITH ev AS MATERIALIZED (
  SELECT DISTINCT s
  FROM (SELECT unnest({_O_SH}) AS s FROM documents WHERE doc_id % 10 = 0)
), evh AS MATERIALIZED (
  -- n counts DISTINCT HASHES, exactly like the engine's distinct()
  -- over the hash column (a 60-bit collision between two shingles
  -- must shrink n on both sides identically)
  SELECT DISTINCT {h} AS h FROM ev
), par AS (
  SELECT GREATEST(64, CAST(1 AS BIGINT)
           << length(printf('%b', 16 * GREATEST(COUNT(*), 1) - 1))) AS m
  FROM evh
), bits AS MATERIALIZED (
  SELECT DISTINCT ((h % m) + i.i * (((h >> 17) | 1) % m)) % m AS pos
  FROM evh, par, (SELECT unnest(generate_series(0, {POW2_K - 1})) AS i) i
), tr AS MATERIALIZED (
  SELECT doc_id, s
  FROM (SELECT doc_id, unnest({_O_SH}) AS s
        FROM documents WHERE doc_id % 10 <> 0)
), probe AS (
  SELECT doc_id, s,
         ((h % m) + i.i * (((h >> 17) | 1) % m)) % m AS pos
  FROM (SELECT doc_id, s, {h} AS h FROM tr), par,
       (SELECT unnest(generate_series(0, {POW2_K - 1})) AS i) i
), hit AS (
  SELECT doc_id, s
  FROM probe JOIN bits USING (pos)
  GROUP BY doc_id, s
  HAVING COUNT(*) = {POW2_K}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
FROM hit GROUP BY doc_id
"""


ORACLE = _oracle_bloom()
