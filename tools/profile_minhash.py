#!/usr/bin/env python
"""Phase-level wall profile of the MinHash dedup family (guide §1:
measure first). Attributes the wall of dedup_minhash_lsh /
dedup_minhash_clusters / dedup_minhash_cluster_containment_check to
their eager phases: signature persist+count, banding candidates,
exact verify + checkpoint, connected components, and (for the
containment check) the exact ngram-Jaccard reference side. Repeats N
times, prints min per phase."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup import clusters, minhash, ngram
from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))


def main() -> None:
    spark = get_session("profile-minhash")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, list[float]] = {}

    def phase(name: str, fn):
        spark.sparkContext.setJobDescription(name)
        start = time.perf_counter()
        out = fn()
        results.setdefault(name, []).append(time.perf_counter() - start)
        spark.sparkContext.setJobDescription(None)
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for _ in range(REPS):
        docs = t(spark, SF_DIR, "documents").where(F.col("text").isNotNull())
        with_sig = minhash._with_signatures(docs)
        with_sig = with_sig.persist()
        phase("sig_persist_count", lambda: with_sig.count())
        cand = minhash.lsh_candidate_pairs(with_sig)
        phase("banding_candidates_noop", lambda: noop(cand))
        sh_only = with_sig.select("doc_id", "sh")
        jac = F.size(F.array_intersect("a_sh", "b_sh")).cast("double") / F.size(
            F.array_distinct(F.concat("a_sh", "b_sh"))
        )
        verified = (
            cand.join(
                sh_only.withColumnsRenamed({"doc_id": "doc_a", "sh": "a_sh"}), "doc_a"
            )
            .join(sh_only.withColumnsRenamed({"doc_id": "doc_b", "sh": "b_sh"}), "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= 0.5)
        )
        pairs = phase("verify_checkpoint", lambda: verified.localCheckpoint(eager=True))
        with_sig.unpersist()
        # clusters tail: union-find over the pair list + join-back
        ids = t(spark, SF_DIR, "documents").select("doc_id")
        labels = phase(
            "connected_components(collect)",
            lambda: clusters.connected_components(ids, pairs.select("doc_a", "doc_b")),
        )
        phase(
            "clusters_tail_noop",
            lambda: noop(
                labels.withColumn("is_kept", F.col("doc_id") == F.col("cluster_id"))
                .orderBy("doc_id")
            ),
        )
        # containment check's exact reference side (independent subtree)
        phase(
            "ngram_jaccard_pairs_noop",
            lambda: noop(
                ngram.ngram_jaccard_pairs(spark, SF_DIR).where(
                    F.col("jaccard") >= 0.6
                )
            ),
        )
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    total = 0.0
    for name, vals in results.items():
        total += min(vals)
        print(f"{min(vals):8.3f}  (all: {[round(v, 2) for v in vals]})  {name}")
    print(f"{total:8.3f}  total(min)")


if __name__ == "__main__":
    main()
