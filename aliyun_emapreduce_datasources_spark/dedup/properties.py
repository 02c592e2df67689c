"""Driver-visible property oracles for the approximate dedup family.

The hash-based operators (minhash/winnow/bloom/embedding-LSH) cannot
be value-matched by a DuckDB oracle — their signatures use engine
hash functions — so their catalog rows are rows-only. These companion
entries close that gap the way the judge's containment-test pattern
does, but as CATALOG entries the external driver hash-checks: each
one computes the VIOLATIONS of a property the approximate operator
guarantees deterministically, through an INDEPENDENT code path (raw
strings / JVM expressions, never the operator's own hashes), and its
oracle pins the result to the empty set. A silent regression in the
approximate operator (emitting a wrong pair, dropping a guaranteed
detection, a hash collision shifting a verdict) surfaces as a
non-empty Spark result hash-mismatching the empty oracle — a
falsifiable check, not a row count.

Properties pinned (each cites the guarantee):

- **Bloom decontamination has NO false negatives** (a Bloom filter
  can only over-report): every doc the exact postings operator flags
  must be bloom-flagged with an equal-or-higher shingle count.
- **MinHash-LSH verified pairs are truly above threshold**: the
  entry's own verify uses hashed shingle sets; recomputing Jaccard
  from RAW shingle strings must agree — a hash collision inflating
  the hashed Jaccard past the cut would surface here.
- **Winnowing pairs share a real substring**: two docs sharing a
  window-min fingerprint share a k-gram hash; the raw-text check
  pins that they share an actual KGRAM-char substring.
- **Embedding-LSH pairs are true near-dups (precision = 1)**: the
  bucket-local numpy-BLAS verification is re-checked with the JVM
  expression cosine (independent arithmetic path); every emitted
  pair must clear the threshold with 1e-9 slack for fold-order ulps.
- **BPE encode is lossless**: concatenating a word's BPE symbols
  must reproduce the word + end-of-word marker byte-for-byte, for
  every distinct corpus word (merges only ever concatenate).
- **SimHash pairs differ in ≤ MAX_HAMMING fingerprint bits, and the
  reported distance is right** (round 4): fingerprints are re-derived
  from raw text through a shift-and-mask voting path (independent of
  the operator's unpackbits/packbits vectorization) and each
  emitted pair's Hamming distance is recomputed from those — a wrong
  vote sign, a bit-order mix-up, or a block-join bug that leaks a
  far pair all surface as violations.
- **MinHash clusters contain every exact high-Jaccard pair** (round
  4): any pair the ORACLE-CHECKED exact shingle-Jaccard operator
  scores ≥ 0.6 must land in one MinHash-LSH cluster (LSH recall at
  0.6 ≫ the 0.5 banding threshold + label-propagation transitivity).
  Promotes the pytest-side containment check to a driver-hashed
  catalog row.
- **Embedding-LSH recovers every exact s ≥ 0.5 pair** (round 5): the
  recall floor of the cataloged near-dup operator, checked against
  the oracle-matched blocked exact twin with the JVM cosine —
  completing the precision check above so `dedup_embedding_cosine`
  is pinned driver-visibly on BOTH sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup import (
    bloom,
    decontaminate,
    embedding,
    minhash,
    spans,
    winnow,
)
from aliyun_emapreduce_datasources_spark.functions.text import shingles, tokens
from aliyun_emapreduce_datasources_spark.functions.vector import cosine
from aliyun_emapreduce_datasources_spark.operators.common import t

__all__ = ["QUERIES", "ORACLES"]


def bloom_no_false_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs the exact decontaminator flags that bloom misses or
    under-counts — guaranteed empty (Bloom filters only over-report)."""
    exact = decontaminate.QUERY(spark, sf_dir)  # (doc_id, n_shared)
    flagged = bloom.QUERY(spark, sf_dir)  # (doc_id, n_flagged)
    return (
        exact.join(flagged, "doc_id", "left")
        .where(
            F.col("n_flagged").isNull() | (F.col("n_flagged") < F.col("n_shared"))
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def minhash_precision_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-verified pairs whose Jaccard over RAW shingle strings
    falls below the 0.5 cut — empty unless a hash collision (or a
    verify bug) inflated the hashed-set Jaccard."""
    # QUERY's result is already eagerly checkpointed (and its fat
    # signature cache released) — no second checkpoint needed here
    pairs = minhash.QUERY(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents")
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # shingle only the pair members (pairs ≪ corpus)
    sh = docs.join(F.broadcast(members), "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(shingles(tokens("text"))).alias("sh_raw")
    )
    raw_jac = F.size(F.array_intersect("a_sh", "b_sh")).cast("double") / F.size(
        F.array_distinct(F.concat("a_sh", "b_sh"))
    )
    return (
        pairs.join(
            sh.withColumnsRenamed({"doc_id": "doc_a", "sh_raw": "a_sh"}), "doc_a"
        )
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "sh_raw": "b_sh"}), "doc_b")
        .where(raw_jac < F.lit(0.5))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def winnow_containment_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow near-dup pairs that share NO raw KGRAM-char substring —
    empty by the winnowing guarantee (shared window-min fingerprint ⇒
    shared k-gram) unless a rolling-hash collision produced the pair."""
    k = winnow.KGRAM
    # QUERY's result is already eagerly checkpointed — no second pass
    pairs = winnow.QUERY(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents")
    # only pair members need gram explosion — the near-dup pair set is
    # tiny next to the corpus, so semi-joining first keeps the k-gram
    # blowup O(|pairs|·doclen), not O(corpus·doclen)
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = docs.join(F.broadcast(members), "doc_id", "left_semi")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(text) - {k - 1}, 0)),"
                    f" i -> substring(text, i, {k}))"
                )
            )
        ).alias("g"),
    )
    # pairs minus pairs-with-a-shared-gram: the pair's doc_a grams
    # equi-join doc_b's grams on (doc_b, g), then anti-join back
    shared_pairs = (
        pairs.join(grams.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .join(grams.withColumnsRenamed({"doc_id": "doc_b"}), ["doc_b", "g"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        pairs.join(shared_pairs, ["doc_a", "doc_b"], "left_anti")
        .orderBy("doc_a", "doc_b")
    )


# Slack for the quantization shift of the round-10 portable law:
# q = floor(x·1e6) perturbs each component by < 1e-6, which moves the
# cosine of these corpora's vectors (‖x‖ ≈ 1.7-2.4, dim 64) by
# < ~2e-5 — bounded empirically with margin in
# tests/test_embedding_portable.py::test_quantized_cosine_shift_bound.
# A genuine verify bug still surfaces: a leaked pair sits BELOW the
# 0.4 cut by bucket-collision distance (~0.05+), not by 1e-4.
QUANT_COS_SLACK = 1e-4


def embedding_lsh_precision_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs whose JVM-expression FLOAT cosine
    (independent of the entry's quantized-integer verify arithmetic)
    is below threshold − QUANT_COS_SLACK — empty by the exact-verify
    construction plus the quantization-shift bound."""
    pairs = embedding.QUERY(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        pairs.join(
            emb.withColumnsRenamed({"vec_id": "vec_a", "embedding": "ea"}), "vec_a"
        )
        .join(emb.withColumnsRenamed({"vec_id": "vec_b", "embedding": "eb"}), "vec_b")
        .where(
            cosine("ea", "eb")
            < F.lit(embedding.COS_THRESHOLD) - F.lit(QUANT_COS_SLACK)
        )
        .select("vec_a", "vec_b")
        .orderBy("vec_a", "vec_b")
    )


def embedding_lsh_recall_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairs at cosine ≥ 0.5 that the cataloged LSH operator
    FAILED to emit — empty by the pinned recall-floor contract (round-5
    companion promoting `dedup_embedding_cosine` out of rows-only on
    the recall side; precision is pinned by
    `dedup_embedding_lsh_precision_check`).

    Independent path: the exact side is the oracle-checked blocked
    twin (`embedding_neardup_blocked`, = the DuckDB
    list_cosine_similarity all-pairs join bit-for-bit, pinned in
    tests/test_dedup.py::test_embedding_blocked_matches_oracle)
    filtered to s ≥ 0.5 with the JVM expression cosine — never the
    LSH's numpy bucket matmul. 1e-9 slack exempts knife-edge
    fold-order ulps.

    SCOPE (round-6 clarification): this is an EMPIRICAL PIN of the
    shipped deterministic corpora, not a mathematical invariant. The
    hyperplanes are fixed (since round 10: 16-bit signed slices of
    the portable md5-64 of 't,p,d' — the quantized-law promotion) and
    the testdata is fixed, so the outcome carries no run-to-run
    chance — emptiness, once observed, is reproducible. For an ARBITRARY corpus
    the guarantee is probabilistic: per-pair collision ≥ 1 − 1e-4 at
    the prescribed auto_tables(auto_planes(n)) knob, ≈ 0.9964 at the
    3-plane/16-table floor for s near the 0.5 cut — a corpus with many
    near-cut pairs should check a margined cut (s ≥ 0.55) or budget a
    per-pair miss rate instead of requiring exact emptiness."""
    exact = embedding.embedding_neardup_blocked(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hi = (
        exact.join(
            emb.withColumnsRenamed({"vec_id": "vec_a", "embedding": "ea"}), "vec_a"
        )
        .join(emb.withColumnsRenamed({"vec_id": "vec_b", "embedding": "eb"}), "vec_b")
        .where(cosine("ea", "eb") >= F.lit(0.5) + F.lit(1e-9))
        .select("vec_a", "vec_b")
    )
    lsh = embedding.QUERY(spark, sf_dir)
    return hi.join(lsh, ["vec_a", "vec_b"], "left_anti").orderBy("vec_a", "vec_b")


def bpe_roundtrip_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct corpus words whose BPE symbol sequence does not concat
    back to word+EOW — empty (merges only concatenate adjacent syms)."""
    import pandas as pd

    from aliyun_emapreduce_datasources_spark.functions.bpe_train import (
        EOW,
        N_MERGES,
        encode_word,
        train_merges,
    )

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .persist()  # read by training and by the roundtrip map pass
    )
    merges = [(left, right) for left, right, _ in train_merges(words, N_MERGES)]

    def _check(pdf_iter):
        for pdf in pdf_iter:
            bad = [
                w
                for w in pdf["w"]
                if "".join(encode_word(w, merges)) != w + EOW
            ]
            yield pd.DataFrame({"w": bad})

    return (
        words.select("w").mapInPandas(_check, schema="w string").orderBy("w")
    )


def _simhash_shift_mask(text: str) -> int:
    """Independent SimHash re-derivation: the same token-hash FAMILY
    the catalog entry pins (simhash.CATALOG_HASH) but a DIFFERENT
    arithmetic path end to end — int.from_bytes on raw digest bytes
    (not the operator's hexdigest-string parse / frombuffer view),
    broadcast shift-and-mask bit extraction (not unpackbits), and a
    powers-of-two dot product (not packbits) — so a bit-order or
    endianness bug in the operator's vectorization cannot reproduce
    here."""
    import hashlib

    import numpy as np

    toks = set(text.split(" "))
    if not toks:
        return 0
    # md5 int = big-endian read of the first 8 digest bytes (the
    # operator parses hexdigest[:16] instead — same value, other route)
    hs = np.fromiter(
        (int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") for s in toks),
        dtype=np.uint64,
        count=len(toks),
    )
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(len(toks))
    fp = int((votes > 0).astype(object) @ (1 << np.arange(64, dtype=object)))
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def simhash_bits_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emitted SimHash pairs whose independently re-derived fingerprints
    differ in more than MAX_HAMMING bits, or whose reported `hamming`
    does not equal the re-derived distance — empty by the Manku block
    guarantee (every emitted pair passed `hamming <= MAX_HAMMING` on
    fingerprints this check independently reproduces)."""
    import pandas as pd

    from aliyun_emapreduce_datasources_spark.dedup import simhash

    # QUERY's result is already eagerly checkpointed — no second pass
    pairs = simhash.QUERY(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # re-fingerprint only pair members (pairs ≪ corpus)
    member_docs = docs.join(F.broadcast(members), "doc_id", "left_semi")

    def refp(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "fp2": pdf["text"].map(_simhash_shift_mask).astype("int64"),
                }
            )

    fp2 = member_docs.select("doc_id", "text").mapInPandas(
        refp, schema="doc_id long, fp2 long"
    )
    recomputed = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        pairs.join(
            fp2.withColumnsRenamed({"doc_id": "doc_a", "fp2": "fa"}), "doc_a"
        )
        .join(fp2.withColumnsRenamed({"doc_id": "doc_b", "fp2": "fb"}), "doc_b")
        .where(
            (recomputed > F.lit(simhash.MAX_HAMMING))
            | (recomputed != F.col("hamming"))
        )
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def minhash_cluster_containment_violations(
    spark: SparkSession, sf_dir: str, concurrent: bool = True
) -> DataFrame:
    """Exact shingle-Jaccard pairs at >= 0.6 whose members land in
    DIFFERENT MinHash-LSH clusters — empty: LSH banding at threshold
    0.5 catches 0.6-Jaccard pairs, and label propagation closes the
    transitive hull, so every exact high-Jaccard pair is intra-cluster.
    The exact side is the oracle-checked dedup_ngram_jaccard operator,
    so this row pins the whole approximate pairs→clusters composition
    against a value-verified reference.

    The two sides are INDEPENDENT until the final join, and BOTH run
    eagerly at construction time (``ngram_jaccard_pairs`` checkpoints
    its pair set; ``minhash_cluster_resolve`` checkpoints the MinHash
    pipeline, then collects the bounded edge list for union-find) —
    built sequentially they serialize end to end. ``concurrent=True``
    constructs them from a 2-thread pool so the cheaper side's jobs
    back-fill the other's straggler tails (guide §2.6, the
    ann_rank_consistency_check pattern); each thread only BUILDS its
    side's DataFrame, so the assembled plan and the result are
    identical. Both builds are ``inheritable_thread_target``s, so their
    eager jobs stay in the caller's job group."""
    from aliyun_emapreduce_datasources_spark.dedup import clusters, ngram

    def build_exact() -> DataFrame:
        return (
            ngram.ngram_jaccard_pairs(spark, sf_dir)
            .where(F.col("jaccard") >= 0.6)
            .select("doc_a", "doc_b")
        )

    def build_assign() -> DataFrame:
        return clusters.minhash_cluster_resolve(spark, sf_dir).select(
            "doc_id", "cluster_id"
        )

    if concurrent:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_exact = pool.submit(inheritable_thread_target(spark)(build_exact))
            f_assign = pool.submit(inheritable_thread_target(spark)(build_assign))
            exact_pairs, assign = f_exact.result(), f_assign.result()
    else:
        exact_pairs, assign = build_exact(), build_assign()
    return (
        exact_pairs.join(
            assign.withColumnsRenamed({"doc_id": "doc_a", "cluster_id": "ca"}),
            "doc_a",
        )
        .join(
            assign.withColumnsRenamed({"doc_id": "doc_b", "cluster_id": "cb"}),
            "doc_b",
        )
        .where(F.col("ca") != F.col("cb"))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def scrub_fixpoint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents still holding a cross-document duplicated 3-shingle
    AFTER scrub_spans_fixpoint — empty by the fixpoint's definition
    (the loop only stops when a pass removes nothing, i.e. no shingle
    spans ≥ 2 docs). The hash-checked companion that lets the
    iterative operator itself stay rows-only; unlike the LSH recall
    pin this IS a hard invariant, not probabilistic — the detection
    below is the operator's own stopping test recomputed
    independently over the final texts."""
    from pyspark.sql import Window

    cleaned = spans.scrub_spans_fixpoint(spark, sf_dir)
    sh = cleaned.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(tokens(F.col("clean_text"))), lambda s: F.xxhash64(s)
                )
            )
        ).alias("s"),
    )
    w = Window.partitionBy("s")
    return (
        sh.withColumn("n_docs", F.count(F.lit(1)).over(w))
        .where(F.col("n_docs") >= 2)
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


_EMPTY_PAIRS = (
    "SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b WHERE FALSE"
)

QUERIES = {
    "dedup_scrub_fixpoint_check": scrub_fixpoint_violations,
    "dedup_bloom_no_false_negatives": bloom_no_false_negatives,
    "dedup_minhash_precision_check": minhash_precision_violations,
    "dedup_winnow_containment_check": winnow_containment_violations,
    "dedup_embedding_lsh_precision_check": embedding_lsh_precision_violations,
    "dedup_embedding_lsh_recall_check": embedding_lsh_recall_violations,
    "bpe_roundtrip_check": bpe_roundtrip_violations,
    "dedup_simhash_bits_check": simhash_bits_violations,
    "dedup_minhash_cluster_containment_check": minhash_cluster_containment_violations,
}

ORACLES = {
    "dedup_scrub_fixpoint_check": (
        "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE FALSE"
    ),
    "dedup_bloom_no_false_negatives": (
        "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE FALSE"
    ),
    "dedup_minhash_precision_check": _EMPTY_PAIRS,
    "dedup_winnow_containment_check": _EMPTY_PAIRS,
    "dedup_embedding_lsh_precision_check": (
        "SELECT CAST(NULL AS BIGINT) AS vec_a, CAST(NULL AS BIGINT) AS vec_b"
        " WHERE FALSE"
    ),
    "dedup_embedding_lsh_recall_check": (
        "SELECT CAST(NULL AS BIGINT) AS vec_a, CAST(NULL AS BIGINT) AS vec_b"
        " WHERE FALSE"
    ),
    "bpe_roundtrip_check": "SELECT CAST(NULL AS VARCHAR) AS w WHERE FALSE",
    "dedup_simhash_bits_check": _EMPTY_PAIRS,
    "dedup_minhash_cluster_containment_check": _EMPTY_PAIRS,
}
