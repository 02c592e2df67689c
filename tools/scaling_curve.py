"""Empirical scaling-curve measurement for the sub-quadratic dedup
family (round-3 verdict ask #3).

For each approximate operator this measures, at sf0.01 AND sf0.1:

- **verify work** — the number of candidate pairs the operator
  actually scores (the quantity whose growth decides 100 TB
  feasibility), counted deterministically from the operator's own
  signature/bucket structures:
    minhash   → band-bucket candidate pairs entering Jaccard verify
    embedding → Σ_buckets C(|bucket|, 2) over the LSH tables (the
                BLAS comparisons bucket_pairs performs)
    simhash   → Σ_(blk,key) C(size, 2) Manku block-join matches
    winnow    → Σ_fp C(postings, 2) fingerprint equi-join matches
    bloom     → bit-array probes = Σ docs' distinct shingles (linear)
- **wall time** — end-to-end operator wall clock (count() of the
  catalog result), for the record; at 500–5000-doc test sizes wall
  time is fixed-overhead dominated, so the WORK curve is the honest
  asymptotic evidence and the wall curve the supporting one.

The quadratic reference for each table is C(n, 2) — exactly the
comparisons the exact twins (embedding_neardup_blocked, all-pairs
Jaccard) must perform. A sub-quadratic operator's work-growth ratio
between the two scale factors must sit far below the quadratic
curve's; tests/test_scaling_curve.py pins
``work_ratio <= 0.5 × quadratic_ratio`` per operator.

Run standalone to print one JSON blob (recorded in
bench_history/NOTES_r04.md):

    python tools/scaling_curve.py
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIRS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def _pairs_in_groups(grouped_counts) -> int:
    """Σ C(size, 2) over a (group → size) DataFrame with column n."""
    row = grouped_counts.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
    ).collect()[0]
    return int(row.p or 0)


def measure_work(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Deterministic verify-work counts per operator at one SF."""
    from aliyun_emapreduce_datasources_spark.dedup import (
        embedding,
        minhash,
        simhash,
        winnow,
    )
    from aliyun_emapreduce_datasources_spark.functions.text import (
        shingles,
        tokens,
    )
    from aliyun_emapreduce_datasources_spark.operators.common import t
    from aliyun_emapreduce_datasources_spark.similarity.lsh import (
        _corpus_signatures,
    )

    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_docs = docs.count()
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_emb = emb.count()

    out: dict[str, int] = {"n_docs": n_docs, "n_emb": n_emb}

    # minhash: distinct band-bucket candidates = the Jaccard-verify load
    # persisted first: lsh_candidate_pairs' caller contract
    sigs = minhash._with_signatures(docs).persist()
    out["minhash_candidates"] = minhash.lsh_candidate_pairs(sigs).count()
    sigs.unpersist()

    # embedding LSH: Σ C(bucket, 2) across tables = BLAS comparisons
    dim = emb.select(F.size("embedding")).limit(1).collect()[0][0]
    sig = _corpus_signatures(
        emb, embedding.LSH_PLANES, embedding.LSH_TABLES, int(dim)
    )
    out["embedding_lsh_comparisons"] = _pairs_in_groups(
        sig.groupBy("tbl", "sig").agg(F.count(F.lit(1)).alias("n"))
    )

    # embedding LSH at the PRESCRIBED scale parameterization: the
    # operator's own knob, embedding.auto_planes(n) at its shipped
    # TARGET_BUCKET — NOT a private B — so the recorded work curve
    # pins exactly the parameterization the operator runs at scale.
    # auto_planes floors at LSH_PLANES, which at test corpus sizes
    # would collapse this measurement into the default-knob one above;
    # to expose the asymptotic slope we lift the floor (planes ≥ 1)
    # while keeping the prescription's TARGET_BUCKET.
    import math

    planes = max(
        1, round(math.log2(max(n_emb, 2) / embedding.TARGET_BUCKET))
    )
    sig_scaled = _corpus_signatures(emb, planes, embedding.LSH_TABLES, int(dim))
    out["embedding_scaled_planes"] = planes
    out["embedding_scaled_comparisons"] = _pairs_in_groups(
        sig_scaled.groupBy("tbl", "sig").agg(F.count(F.lit(1)).alias("n"))
    )

    # emitted-pair counts: simhash's candidate volume is OUTPUT-bound
    # on this template-heavy corpus (large genuine hamming<=3 families),
    # so its honest scaling statement compares candidate growth to
    # output growth, not to a sub-quadratic curve
    out["simhash_emitted"] = simhash.QUERY(spark, sf_dir).count()

    # simhash: Manku block equi-join matches
    fps = simhash.simhash64(docs)
    blocks = fps.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * simhash.BLOCK_BITS)
                        .bitwiseAND(F.lit((1 << simhash.BLOCK_BITS) - 1))
                        .alias("key"),
                    )
                    for i in range(simhash.N_BLOCKS)
                ]
            )
        ).alias("bb")
    ).select("bb.blk", "bb.key")
    out["simhash_candidates"] = _pairs_in_groups(
        blocks.groupBy("blk", "key").agg(F.count(F.lit(1)).alias("n"))
    )

    # winnow PLAIN postings equi-join matches — kept as the baseline
    # curve the prefix filter is graded against
    wfps = winnow.winnow_fingerprints(docs)
    out["winnow_candidates"] = _pairs_in_groups(
        wfps.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    )

    # winnow SHIPPED path (PPJoin prefix filter): work = candidate-
    # generation join matches (smaller-doc prefix x larger-doc full
    # postings) + exact-verify join rows (Σ |A∩B| over distinct
    # candidates) — built from the operator's own _prefix_postings so
    # the measured curve is the shipped code path
    counts_w = wfps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    pre_w = winnow._prefix_postings(wfps, winnow.MIN_CONTAINMENT)
    full_w = wfps.join(counts_w, "doc_id")
    smaller = (F.col("s.n_fp") < F.col("l.n_fp")) | (
        (F.col("s.n_fp") == F.col("l.n_fp"))
        & (F.col("s.doc_id") < F.col("l.doc_id"))
    )
    gen = (
        pre_w.alias("s")
        .join(full_w.alias("l"), (F.col("s.fp") == F.col("l.fp")) & smaller)
        .select(F.col("s.doc_id").alias("da"), F.col("l.doc_id").alias("db"))
    )
    out["winnow_prefix_gen"] = gen.count()
    cand_w = gen.dropDuplicates(["da", "db"])
    fa = wfps.select(F.col("doc_id").alias("da"), "fp")
    fb = wfps.select(F.col("doc_id").alias("db"), "fp")
    out["winnow_prefix_verify"] = (
        cand_w.join(fa, "da").join(fb, ["db", "fp"]).count()
    )
    out["winnow_prefix_work"] = (
        out["winnow_prefix_gen"] + out["winnow_prefix_verify"]
    )

    # scrub family (round-6 additions): the work terms are (a) the
    # shingle postings volume — linear in corpus tokens by
    # construction — and (b) the duplicated-postings volume entering
    # the cut explode (corpus-structure bound, like winnow). Both
    # counted from the operator's own shingle pipeline.
    from aliyun_emapreduce_datasources_spark.dedup import spans as spans_mod

    out["n_tokens"] = int(
        docs.select(F.sum(F.size(tokens("text")))).collect()[0][0] or 0
    )
    base_s = docs.select("doc_id", tokens("text").alias("tk"))
    sh_s = base_s.select(
        "doc_id",
        F.posexplode(
            F.transform(shingles(F.col("tk")), lambda s: F.xxhash64(s))
        ).alias("pos", "s"),
    )
    out["scrub_postings"] = sh_s.count()
    per_doc_s = sh_s.groupBy("s", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as _W

    dup_s = per_doc_s.withColumn(
        "n_docs", F.count(F.lit(1)).over(_W.partitionBy("s"))
    ).where(F.col("n_docs") >= 2)
    out["scrub_dup_postings"] = int(
        dup_s.agg(F.sum("n")).collect()[0][0] or 0
    )
    out["scrub_removed_tokens"] = int(
        spans_mod.scrub_dup_spans(spark, sf_dir)
        .agg(F.sum("n_removed"))
        .collect()[0][0]
        or 0
    )

    # trigram-novelty (round-6): work = distinct (doc, trigram)
    # postings — BOTH the per-gram count aggregate and the join-back
    # are postings-sized, so the one number is the operator's whole
    # shuffle volume. Linear in corpus tokens by construction.
    # (Counted with the shipped zip_with shingles builder — the
    # index-into-split form was replaced session 3 for a 3× win.)
    out["novelty_postings"] = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(tokens("text"), 3))).alias("tg"),
        ).count()
    )

    # covariance (round-6): in-row pair expansion rows — exactly
    # n_emb * d(d+1)/2, linear in vectors; counted from the
    # operator's own pair frame to pin the claim, not the formula.
    from aliyun_emapreduce_datasources_spark.similarity.covariance import _q_pairs

    out["covariance_pair_rows"] = _q_pairs(spark, sf_dir).count()

    # source TV matrix (round-6 session 3): work = common-token join
    # matches = Σ_token C(sources_with_token, 2) — bounded by
    # |vocab| × C(|sources|, 2), NOT by corpus size, so on a growing
    # corpus with a stable vocabulary the join volume is ~flat.
    # Counted from the operator's own per-source count table.
    src_counts = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out["tv_join_rows"] = _pairs_in_groups(
        src_counts.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    )

    # bucketed-rank family (round 7.5): the occupied-bucket / count-grid
    # sizes the offset windows walk — the scale claim is that these are
    # value-RANGE-bounded (quality ≤ 4097·|langs| buckets, ccnet
    # ≤ score-range/2¹⁸·|langs|, gini ≤ |sources|·|length-range|), NOT
    # corpus-bounded, so the fitted exponent vs n_docs must sit far
    # below 1 as the range saturates. Counted with the operators' own
    # bucket expressions.
    from aliyun_emapreduce_datasources_spark.functions.lm import (
        lm_bigram_surprise,
    )
    from aliyun_emapreduce_datasources_spark.functions.text import _quality_expr

    out["stratified_grid_rows"] = (
        docs.select(
            "lang",
            F.floor(_quality_expr(tokens("text")) * F.lit(4096.0)).alias("rb"),
        )
        .distinct()
        .count()
    )
    sur = lm_bigram_surprise(spark, sf_dir).select("doc_id", "avg_surprise")
    out["ccnet_grid_rows"] = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .join(sur, "doc_id")
        .select(
            "lang",
            F.shiftright(F.floor("avg_surprise").cast("long"), 18).alias("rb"),
        )
        .distinct()
        .count()
    )
    out["gini_grid_rows"] = (
        docs.select(
            "source", F.size(F.split(F.col("text"), " ")).alias("x")
        )
        .distinct()
        .count()
    )

    # rolling WAU (round-6 session 3): work = range-join fan-out rows;
    # the claim is fanout ≤ 7 × |(user, day) pairs| and pairs ≪ events
    # (dedupe-first). All three terms counted.
    ev = t(spark, sf_dir, "events")
    out["n_events"] = ev.count()
    pairs_wau = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    out["wau_pairs"] = pairs_wau.count()
    spine_wau = pairs_wau.select("day").distinct()
    out["wau_fanout_rows"] = (
        spine_wau.alias("d")
        .join(
            pairs_wau.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .count()
    )

    # Kendall tau (round-6 session 3): exact pair counting is O(n²) BY
    # DEFINITION — the scale claim is the DISTRIBUTION bound, not
    # sub-quadratic total: total pair work == C(n, 2) exactly, and the
    # largest single task touches ≤ ceil(n/B)·(ceil(n/B)+skew) pairs.
    # Both terms counted from the operator's own block assignment.
    from aliyun_emapreduce_datasources_spark.similarity.evalmetrics import (
        kt_auto_blocks,
    )

    kt_b = kt_auto_blocks(n_emb)
    out["kendall_blocks"] = kt_b
    blk_sizes = [
        int(r["n"])
        for r in emb.select(F.pmod("vec_id", F.lit(kt_b)).alias("blk"))
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    out["kendall_total_pairs"] = n_emb * (n_emb - 1) // 2
    out["kendall_max_task_pairs"] = max(
        max((a * b for a in blk_sizes for b in blk_sizes), default=0),
        max((s * (s - 1) // 2 for s in blk_sizes), default=0),
    )

    # bloom: probe count = total distinct shingles (linear by design)
    out["bloom_probes"] = (
        docs.select(
            F.size(F.array_distinct(shingles(tokens("text")))).alias("k")
        )
        .agg(F.sum("k"))
        .collect()[0][0]
        or 0
    )
    return out


def measure_wall(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """End-to-end wall seconds per cataloged operator (+ exact twin)."""
    from aliyun_emapreduce_datasources_spark.dedup import (
        bloom,
        embedding,
        minhash,
        simhash,
        winnow,
    )

    ops = {
        "dedup_minhash_lsh": minhash.QUERY,
        "dedup_embedding_cosine": embedding.QUERY,
        "dedup_simhash": simhash.QUERY,
        "dedup_winnow_fingerprint": winnow.QUERY,
        "dedup_bloom_decontaminate": bloom.QUERY,
        "exact_embedding_blocked": embedding.embedding_neardup_blocked,
    }
    wall: dict[str, float] = {}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        wall[name] = round(time.perf_counter() - t0, 4)
    return wall


def run(spark: SparkSession) -> dict:
    res = {}
    for d in SF_DIRS:
        res[d] = {"work": measure_work(spark, d), "wall": measure_wall(spark, d)}
    w0, w1 = (res[d]["work"] for d in SF_DIRS)
    quad_docs = (w1["n_docs"] * (w1["n_docs"] - 1)) / max(
        w0["n_docs"] * (w0["n_docs"] - 1), 1
    )
    quad_emb = (w1["n_emb"] * (w1["n_emb"] - 1)) / max(
        w0["n_emb"] * (w0["n_emb"] - 1), 1
    )
    res["ratios"] = {
        "quadratic_docs": round(quad_docs, 2),
        "quadratic_emb": round(quad_emb, 2),
        "minhash_work": round(
            w1["minhash_candidates"] / max(w0["minhash_candidates"], 1), 2
        ),
        "embedding_work": round(
            w1["embedding_lsh_comparisons"]
            / max(w0["embedding_lsh_comparisons"], 1),
            2,
        ),
        "embedding_scaled_work": round(
            w1["embedding_scaled_comparisons"]
            / max(w0["embedding_scaled_comparisons"], 1),
            2,
        ),
        "simhash_work": round(
            w1["simhash_candidates"] / max(w0["simhash_candidates"], 1), 2
        ),
        "simhash_emitted": round(
            w1["simhash_emitted"] / max(w0["simhash_emitted"], 1), 2
        ),
        "winnow_work": round(
            w1["winnow_candidates"] / max(w0["winnow_candidates"], 1), 2
        ),
        "winnow_prefix_work": round(
            w1["winnow_prefix_work"] / max(w0["winnow_prefix_work"], 1), 2
        ),
        "bloom_work": round(w1["bloom_probes"] / max(w0["bloom_probes"], 1), 2),
        "novelty_postings": round(
            w1["novelty_postings"] / max(w0["novelty_postings"], 1), 2
        ),
        "covariance_rows": round(
            w1["covariance_pair_rows"] / max(w0["covariance_pair_rows"], 1), 2
        ),
        "tokens": round(w1["n_tokens"] / max(w0["n_tokens"], 1), 2),
        "scrub_postings": round(
            w1["scrub_postings"] / max(w0["scrub_postings"], 1), 2
        ),
        "scrub_dup_postings": round(
            w1["scrub_dup_postings"] / max(w0["scrub_dup_postings"], 1), 2
        ),
        "scrub_removed": round(
            w1["scrub_removed_tokens"] / max(w0["scrub_removed_tokens"], 1), 2
        ),
        "tv_join_rows": round(
            w1["tv_join_rows"] / max(w0["tv_join_rows"], 1), 2
        ),
        "wau_fanout": round(
            w1["wau_fanout_rows"] / max(w0["wau_fanout_rows"], 1), 2
        ),
        "kendall_max_task_share": round(
            w1["kendall_max_task_pairs"] / max(w1["kendall_total_pairs"], 1), 4
        ),
    }
    return res


# size base each work metric scales against, for the 3-point fit
_FIT_BASE = {
    "minhash_candidates": "n_docs",
    "simhash_candidates": "n_docs",
    "simhash_emitted": "n_docs",
    "winnow_candidates": "n_docs",
    "winnow_prefix_gen": "n_docs",
    "winnow_prefix_verify": "n_docs",
    "winnow_prefix_work": "n_docs",
    "n_tokens": "n_docs",
    "scrub_postings": "n_tokens",
    "scrub_dup_postings": "n_tokens",
    "scrub_removed_tokens": "n_tokens",
    "novelty_postings": "n_tokens",
    "bloom_probes": "n_tokens",
    "tv_join_rows": "n_tokens",
    "stratified_grid_rows": "n_docs",
    "ccnet_grid_rows": "n_docs",
    "gini_grid_rows": "n_docs",
    "embedding_lsh_comparisons": "n_emb",
    "embedding_scaled_comparisons": "n_emb",
    "covariance_pair_rows": "n_emb",
    "kendall_total_pairs": "n_emb",
    "wau_pairs": "n_events",
    "wau_fanout_rows": "n_events",
}


def fit3(spark: SparkSession, dirs: list[str]) -> dict:
    """Three-point scaling fit (round-6 verdict ask #4): measure the
    work counts at each dir and fit log(count) ~ exponent·log(base)
    by least squares — the recorded evidence is a fitted EXPONENT over
    a decade-and-a-half of scale, not one 10× ratio. The quadratic
    reference exponent is 2.0 against the same base."""
    import math

    works = [measure_work(spark, d) for d in dirs]

    def _slope(xs: list[float], ys: list[float]) -> float:
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        den = sum((x - mx) ** 2 for x in xs)
        return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den

    fits = {}
    for k, base in _FIT_BASE.items():
        if any(k not in w or base not in w for w in works):
            continue
        xs = [math.log(max(w[base], 1)) for w in works]
        ys = [math.log(max(w[k], 1)) for w in works]
        fits[k] = {
            "base": base,
            "points": {w[base]: w[k] for w in works},
            "exponent": round(_slope(xs, ys), 3),
        }
    return {
        "dirs": dirs,
        "work": works,
        "fit": fits,
        "kendall_max_task_share": [
            round(w["kendall_max_task_pairs"] / max(w["kendall_total_pairs"], 1), 4)
            for w in works
        ],
        "kendall_blocks": [w.get("kendall_blocks") for w in works],
    }


if __name__ == "__main__":
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from aliyun_emapreduce_datasources_spark.session import get_session

    if len(sys.argv) > 1 and sys.argv[1] == "--three":
        third = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scaling_sf1"
        print(
            json.dumps(
                fit3(get_session("scaling-curve"), [*SF_DIRS, third]), indent=2
            )
        )
    else:
        print(json.dumps(run(get_session("scaling-curve")), indent=2))
