#!/usr/bin/env python
"""Phase attribution for dedup_simhash / ann_int8_topk / ann_pq_topk
(r12, VERDICT items 5-6). Times each pipeline stage in isolation with
the noop sink, min-of-reps.

    python tools/profile_ann_simhash.py <sf_dir> [reps]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t


def timed(spark, label, fn, reps, out):
    best = None
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
    out[label] = round(best, 3)
    print(f"{label}: {best:.3f}s", flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    from aliyun_emapreduce_datasources_spark.session import get_session

    spark = get_session("profile-ann-simhash")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}

    # ---------- simhash ----------
    from aliyun_emapreduce_datasources_spark.dedup import simhash as sh

    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    # warm
    noop(sh.simhash64(docs))

    timed(spark, "simhash:fingerprint", lambda: noop(sh.simhash64(docs)), reps, out)

    fps = sh.simhash64(docs).persist()
    fps.count()
    timed(spark, "simhash:candidates(cached fps)", lambda: noop(sh.simhash_candidates(fps)), reps, out)
    fps.unpersist()
    timed(spark, "simhash:entry", lambda: noop(sh.QUERY(spark, sf_dir)), reps, out)

    # ---------- int8 ----------
    from aliyun_emapreduce_datasources_spark.similarity import quantize as qz

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    noop(qz.quantize_corpus(emb).select("vec_id", "scale", "qvec"))
    timed(spark, "int8:quantize(JVM expr)", lambda: noop(qz.quantize_corpus(emb).select("vec_id", "scale", "qvec")), reps, out)
    timed(spark, "int8:entry", lambda: noop(qz.QUERY(spark, sf_dir)), reps, out)

    # ---------- pq ----------
    from aliyun_emapreduce_datasources_spark.similarity import pq

    timed(spark, "pq:train(collect)", lambda: pq.train_codebooks(emb), reps, out)
    books = pq.train_codebooks(emb)
    timed(spark, "pq:encode", lambda: noop(pq.encode_corpus(emb, books)), reps, out)
    timed(spark, "pq:entry", lambda: noop(pq.QUERY(spark, sf_dir)), reps, out)

    print(out)


if __name__ == "__main__":
    main()
