"""Incremental curation ingest: the streaming twin of the batch
curation pipeline (operators/pipeline.curate_end_to_end) — documents
arrive in micro-batches, each batch is normalized, quality-gated, and
exact-deduplicated against EVERYTHING already accepted, and only the
novel survivors land in the curated store.

The dedup-against-history is the part batch ops don't give you: a
`foreachBatch` anti-join of the incoming batch's md5(text) digests
against the accepted-digest table, followed by an in-batch keep-first
(first doc_id wins — same deterministic rule as the batch pipeline).
The accepted store is two parquet dirs (docs + digests) written
append-only; replayed batches are skipped by batchId (idempotent —
S8's TableStoreSink.addBatch contract), so crash/retry cannot
duplicate documents.

Scale shape: per batch, one scan of the batch (small), one anti-join
whose build side is the digest table — digests are 32-hex per
accepted doc, so even a 10-billion-doc history is a joinable (and at
moderate history sizes broadcastable) ~0.5 TB digest table sharded by
digest prefix; Spark plans a shuffled hash join once it outgrows
broadcast. History never holds document TEXT, only digests + ids.
At real deployment the digest store would be a Delta/Iceberg table
with OPTIMIZE compaction (operators/storage.compact is the pass).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.functions.text import normalize_ws
from aliyun_emapreduce_datasources_spark.operators.common import release_checkpoint

__all__ = ["CurationIngest", "EmbeddingIngest", "NearDupIngest"]


def _read_history(spark: SparkSession, path: str) -> DataFrame | None:
    """The accepted store at ``path``, or None before the first batch
    has written it. Any other read failure (a corrupt footer, a
    permission error) raises: a batch deduplicated against no history
    would let duplicates into the store."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


class CurationIngest:
    """foreachBatch callback maintaining a curated document store.

    out_dir/
      docs/     accepted documents (doc_id, norm_text, n_tokens, batch_id)
      digests/  md5 digests of every accepted norm_text
    """

    def __init__(self, out_dir: str, min_tokens: int = 5, max_tokens: int = 100_000):
        self.out_dir = out_dir
        self.docs_dir = os.path.join(out_dir, "docs")
        self.digest_dir = os.path.join(out_dir, "digests")
        self.min_tokens = min_tokens
        self.max_tokens = max_tokens
        self.seen_batches: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.seen_batches:
            return  # replayed batch (idempotent-by-batchId, S8 contract)
        spark = batch_df.sparkSession
        norm = normalize_ws("text")
        n_tok = F.size(F.split(norm, " "))
        candidates = (
            batch_df.select(
                "doc_id",
                norm.alias("norm_text"),
                n_tok.alias("n_tokens"),
            )
            .where(
                (F.col("n_tokens") >= self.min_tokens)
                & (F.col("n_tokens") <= self.max_tokens)
            )
            .withColumn("digest", F.md5("norm_text"))
        )
        # in-batch keep-first: minimum doc_id per digest
        from pyspark.sql import Window

        w = Window.partitionBy("digest").orderBy("doc_id")
        firsts = (
            candidates.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        history = _read_history(spark, self.digest_dir)
        if history is not None:
            firsts = firsts.join(
                history.select("digest"), "digest", "left_anti"
            )
        accepted = firsts.withColumn("batch_id", F.lit(batch_id))
        # digests first: if we crash between the two writes, the replay
        # (same batch re-delivered after restart, seen_batches lost)
        # anti-joins against the digests and re-writes nothing twice —
        # docs/ may lose the batch's rows on that crash path, which the
        # doc-vs-digest reconciliation check below surfaces
        accepted.select("digest", "doc_id").write.mode("append").parquet(
            self.digest_dir
        )
        accepted.write.mode("append").parquet(self.docs_dir)
        self.seen_batches.add(batch_id)

    def curated(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.docs_dir)

    def reconcile(self, spark: SparkSession) -> int:
        """Digest rows without a doc row (crash between writes) —
        0 on a healthy store."""
        digests = spark.read.parquet(self.digest_dir).select("digest")
        docs = spark.read.parquet(self.docs_dir).select("digest")
        return digests.join(docs, "digest", "left_anti").count()


class EmbeddingIngest:
    """Streaming semantic dedup-on-ingest: the embedding analog of
    :class:`CurationIngest`. Each micro-batch of (vec_id, embedding)
    is LSH-bucketed (similarity/lsh.py hyperplane signature), compared
    by exact cosine ONLY against accepted history sharing a bucket
    (plus earlier same-bucket rows of its own batch), and the
    survivors append to the history store.

    Scale shape per batch: the candidate join is bucket-equality — the
    batch side is micro-batch-sized and the history side is pruned by
    the signature join key, so comparisons stay O(batch × per-bucket
    history), never O(batch × history). Cosine runs as the zip_with/
    aggregate expression (codegen, no Python). History holds
    (vec_id, sig, embedding); at 10⁹ vectors you'd partition the
    store by sig prefix so the join prunes files too (the same
    derivable-key layout as operators/search.py).

    Same LSH caveat as the batch operator: near-dups straddling a
    bucket boundary can slip through (recall < 1); raise n_tables/
    multiprobe for tighter recall.
    """

    def __init__(self, out_dir: str, tau: float = 0.95):
        self.store = os.path.join(out_dir, "accepted")
        self.tau = tau
        self.seen_batches: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.seen_batches:
            return
        from aliyun_emapreduce_datasources_spark.functions.vector import cosine
        from aliyun_emapreduce_datasources_spark.similarity.lsh import (
            hyperplane_signature,
        )

        spark = batch_df.sparkSession
        batch = batch_df.select(
            "vec_id", "embedding", hyperplane_signature("embedding").alias("sig")
        ).localCheckpoint(eager=True)  # stable ids across the two uses

        history = _read_history(spark, self.store)
        near_history = None
        if history is not None:
            near_history = (
                batch.alias("b")
                .join(history.alias("h"), F.col("b.sig") == F.col("h.sig"))
                .where(cosine("b.embedding", "h.embedding") >= self.tau)
                .select(F.col("b.vec_id").alias("vec_id"))
                .distinct()
            )
        # within-batch: earlier (lower vec_id) same-bucket near-dup wins
        near_self = (
            batch.alias("a")
            .join(
                batch.alias("c"),
                (F.col("a.sig") == F.col("c.sig"))
                & (F.col("c.vec_id") < F.col("a.vec_id")),
            )
            .where(cosine("a.embedding", "c.embedding") >= self.tau)
            .select(F.col("a.vec_id").alias("vec_id"))
            .distinct()
        )
        rejected = near_self if near_history is None else near_self.unionByName(near_history).distinct()
        accepted = batch.join(rejected, "vec_id", "left_anti").withColumn(
            "batch_id", F.lit(batch_id)
        )
        accepted.write.mode("append").parquet(self.store)
        release_checkpoint(batch)
        self.seen_batches.add(batch_id)

    def accepted(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.store)


class NearDupIngest:
    """Streaming MinHash near-dup-on-ingest: the third member of the
    ingest-dedup family (exact → :class:`CurationIngest`, embedding →
    :class:`EmbeddingIngest`, shingle-Jaccard → this). Each
    micro-batch of (doc_id, text):

    1. builds OPH signatures with the SAME JVM expression tree the
       batch operator uses (dedup/minhash._with_signatures — no
       Python worker),
    2. resolves IN-BATCH near-dups exactly like the batch pipeline:
       banded candidates → exact-Jaccard verify at ``tau`` →
       connected components → keep the minimum doc_id per cluster,
    3. checks the survivors against HISTORY through the accepted
       (band, bucket) index — candidates are only docs sharing a
       bucket with an accepted doc, verified by exact Jaccard over
       the stored int64 shingle hashes (md5-64; equal to raw-string
       Jaccard up to 64-bit collisions) — and drops any survivor with
       a J >= tau witness,
    4. appends the keepers' bands, shingle hashes, and doc rows.

    INVARIANT the tests pin: at every point, no two ACCEPTED docs
    both share an LSH bucket and have Jaccard >= tau — the store is
    self-clean under exactly the recall the banding gives (the same
    recall contract the batch entry documents; pairs that never share
    a bucket are out of scope for both).

    Policy note vs the batch pipeline: rejection here needs a DIRECT
    J >= tau witness among history or surviving batch-mates, while a
    global batch run clusters transitively across the whole corpus —
    a chain through an already-rejected doc can keep a doc here that
    batch mode would drop. That is inherent to any one-pass ingest
    rule; the invariant above holds either way.

    Scale shape per batch: signature work is map-side over the batch;
    the history probe joins batch-exploded bands (batch x 32 rows)
    against the index on (band, bucket) — pruned by key, never
    O(batch x history); the verify join touches only candidates'
    postings. At 10^11 docs the sigs/ and shingles/ stores would be
    Delta/Iceberg tables partitioned by band/hash-prefix so the probe
    prunes files too.

    out_dir/
      docs/      accepted (doc_id, n_sh, batch_id)
      sigs/      accepted (doc_id, band, bucket)   -- the LSH index
      shingles/  accepted (doc_id, h)              -- int64 shingle hashes

    Crash posture mirrors CurationIngest: dedup STATE first
    (sigs + shingles), docs last; a replay after a crash between the
    writes anti-joins on the sigs index and re-accepts nothing, at
    the cost of possibly losing that batch's docs/ rows — surfaced by
    :meth:`reconcile`.
    """

    def __init__(self, out_dir: str, tau: float = 0.5):
        self.docs_dir = os.path.join(out_dir, "docs")
        self.sigs_dir = os.path.join(out_dir, "sigs")
        self.shingles_dir = os.path.join(out_dir, "shingles")
        self.tau = tau
        self.seen_batches: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.seen_batches:
            return
        from aliyun_emapreduce_datasources_spark.dedup.clusters import (
            connected_components,
        )
        from aliyun_emapreduce_datasources_spark.dedup.minhash import (
            _with_signatures,
            jaccard_verify,
            lsh_candidate_pairs,
        )
        from aliyun_emapreduce_datasources_spark.functions.inthash import h64_md5

        spark = batch_df.sparkSession
        with_sig = _with_signatures(
            batch_df.where(F.col("text").isNotNull())
        ).persist()  # lsh_candidate_pairs' caller contract
        if with_sig.count() == 0:
            with_sig.unpersist()
            self.seen_batches.add(batch_id)
            return

        # in-batch: the batch operator's exact rule on this batch
        pairs = jaccard_verify(lsh_candidate_pairs(with_sig), with_sig, self.tau).select(
            "doc_a", "doc_b"
        )
        keepers = (
            connected_components(with_sig.select("doc_id"), pairs)
            .where(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id")
        )
        keep_sig = with_sig.join(keepers, "doc_id")

        # vs history: bucket-pruned candidates, exact hash-Jaccard
        hist_sigs = _read_history(spark, self.sigs_dir)
        hist_post = _read_history(spark, self.shingles_dir)
        hist_docs = _read_history(spark, self.docs_dir)
        if hist_sigs is not None and hist_post is not None and hist_docs is not None:
            new_bands = keep_sig.select(
                "doc_id", F.posexplode("bands").alias("band", "bucket")
            )
            cand = (
                new_bands.join(
                    hist_sigs.withColumnsRenamed({"doc_id": "old_id"}),
                    ["band", "bucket"],
                )
                .where(F.col("doc_id") != F.col("old_id"))  # crash-replay self-match
                .select("doc_id", "old_id")
                .distinct()
            )
            new_post = keep_sig.select(
                "doc_id", F.explode(F.transform("sh", h64_md5)).alias("h")
            )
            inter = (
                cand.join(new_post, "doc_id")
                .join(
                    hist_post.withColumnsRenamed({"doc_id": "old_id"}),
                    ["old_id", "h"],
                )
                .groupBy("doc_id", "old_id")
                .agg(F.count(F.lit(1)).alias("n_inter"))
            )
            rejected = (
                inter.join(
                    keep_sig.select("doc_id", F.size("sh").alias("na")), "doc_id"
                )
                .join(
                    hist_docs.select(
                        F.col("doc_id").alias("old_id"), F.col("n_sh").alias("nb")
                    ),
                    "old_id",
                )
                .where(
                    F.col("n_inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_inter"))
                    >= self.tau
                )
                .select("doc_id")
                .distinct()
            )
            accepted = keep_sig.join(rejected, "doc_id", "left_anti").join(
                hist_sigs.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        else:
            accepted = keep_sig
        # localCheckpoint, NOT persist: the plan reads the sigs/ dir we
        # are about to append to, and Spark recaches-by-path on write —
        # a cached plan would be invalidated by the first append and
        # recompute the anti-join against its OWN output (observed:
        # docs/ written empty). Checkpointing severs the file lineage.
        accepted = accepted.localCheckpoint(eager=True)
        # dedup state first, docs last (see class docstring)
        accepted.select(
            "doc_id", F.posexplode("bands").alias("band", "bucket")
        ).write.mode("append").parquet(self.sigs_dir)
        accepted.select(
            "doc_id", F.explode(F.transform("sh", h64_md5)).alias("h")
        ).write.mode("append").parquet(self.shingles_dir)
        accepted.select(
            "doc_id",
            F.size("sh").alias("n_sh"),
            F.lit(batch_id).alias("batch_id"),
        ).write.mode("append").parquet(self.docs_dir)
        release_checkpoint(accepted)
        with_sig.unpersist()
        self.seen_batches.add(batch_id)

    def accepted(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.docs_dir)

    def reconcile(self, spark: SparkSession) -> int:
        """Sig-index doc_ids without a docs/ row (crash between the
        state and doc writes) — 0 on a healthy store."""
        sigs = spark.read.parquet(self.sigs_dir).select("doc_id").distinct()
        docs = spark.read.parquet(self.docs_dir).select("doc_id")
        return sigs.join(docs, "doc_id", "left_anti").count()
