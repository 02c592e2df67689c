"""Per-entry Spark job budget for the dedup pair pipelines and their
consumers, the checkpointed convergence loops, the ANN and embedding
entries, the source TV matrix and the media entries: a new eager action (a spare count,
an extra checkpoint, a collect) or a lost one shows up here as a diff.

Each entry is built and then written to ``noop`` under a job group of
its own; the pin is (jobs run while building, jobs run in total). The
counts are what the entries run at sf0.001 and repeat exactly across a
cold and a warm pass on the same session.
"""

from __future__ import annotations

import importlib.util
import os
import uuid

import pytest

from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES

BUDGET = {  # entry: (build jobs, build + noop write jobs)
    "dedup_minhash_lsh": (12, 13),
    "dedup_ngram_jaccard": (7, 8),
    "dedup_containment": (8, 9),
    "dedup_simhash": (8, 9),
    "dedup_winnow_fingerprint": (19, 20),
    # the media result is a checkpoint like the others' (it was a
    # persist + count, two jobs more)
    "media_image_neardup": (10, 11),
    "media_audio_neardup": (10, 11),
    "media_mixed_neardup": (10, 11),
    "media_video_neardup": (10, 11),
    "media_pipeline": (1, 7),
    "media_audio_features": (1, 3),
    "media_video_frames": (1, 3),
    "media_png_features": (1, 3),
    "media_jpeg_features": (1, 3),
    "dedup_minhash_clusters": (14, 20),
    "dedup_cluster_resolve": (9, 15),
    "dedup_scrub_fixpoint": (42, 44),
    "bpe_train_merges": (18, 21),
    "bpe_encode_corpus": (18, 24),
    "ann_bruteforce_topk": (2, 4),
    "ann_lsh_topk": (2, 6),
    "ann_ivf_topk": (3, 6),
    # the exact rescore is score_candidates, not a JVM cosine join
    # against a second, broadcast read of the query side (was (2, 7))
    "ann_int8_topk": (2, 6),
    "ann_pq_topk": (3, 7),
    # the variant builds run on pool threads that now carry the job
    # group, so their eager jobs count (was (1, 16) with a bare pool)
    "ann_rank_consistency_check": (11, 26),
    "ann_ivf_file_consistency_check": (21, 30),
    "ann_ivf_drift_check": (16, 24),
    "dedup_bloom_decontaminate": (3, 4),
    "dedup_semantic": (1, 5),
    # both sides build on group-carrying pool threads (a bare pool
    # counted (0, 9))
    "dedup_minhash_cluster_containment_check": (21, 30),
    "emb_label_noise_knn": (3, 13),
    "emb_bitext_mine": (3, 21),
    "emb_hard_negatives": (3, 13),
    "eval_mrr_at_k": (4, 17),
    "eval_kendall_tau": (3, 11),
    # counts is an eager checkpoint (a lazy persist ran (1, 22))
    "text_source_tv_matrix": (3, 13),
}


def _jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_entry_job_budget(spark, sf_dir, name):
    sc = spark.sparkContext
    group = f"job-budget-{name}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, name)
    try:
        df = QUERIES[name](spark, sf_dir)
        built = _jobs(spark, group)
        df.write.format("noop").mode("overwrite").save()
        total = _jobs(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    assert (built, total) == BUDGET[name]


def _profile_tool():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "profile_entries", os.path.join(repo, "tools", "profile_entries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", ["dedup_simhash", "text_source_tv_matrix", "ann_pq_topk"])
def test_profile_tool_counts_the_budget(spark, sf_dir, name):
    """tools/profile_entries.py's per-entry record (perfbench's tracer spans
    around build and noop write) counts the jobs pinned above."""
    rec, jobs, _ = _profile_tool().profile_entry(spark, name, sf_dir, reps=1)
    assert (rec["jobs_build"], rec["jobs"]) == BUDGET[name]
    assert len(jobs) == rec["jobs"]
