#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the scale-property commentary the audit checks."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aliyun_emapreduce_datasources_spark.dedup import minhash as _mh  # noqa: E402
from aliyun_emapreduce_datasources_spark.dedup import simhash as _sh  # noqa: E402
from aliyun_emapreduce_datasources_spark.dedup.containment import (  # noqa: E402
    containment_pairs as _containment_pairs,
)
from aliyun_emapreduce_datasources_spark.multimodal import audiohash as _audiohash  # noqa: E402
from aliyun_emapreduce_datasources_spark.multimodal import imagehash as _imagehash  # noqa: E402
from aliyun_emapreduce_datasources_spark.multimodal import mixed as _mixed  # noqa: E402
from aliyun_emapreduce_datasources_spark.multimodal import videohash as _videohash  # noqa: E402
from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES  # noqa: E402
from aliyun_emapreduce_datasources_spark.session import get_session  # noqa: E402

# entries whose catalog path eagerly checkpoints (deterministic cache
# release, r10 ask #2) — dump the materialize=False lazy twin so the
# audit shows the executing shape, not a checkpointed-RDD scan
LAZY = {
    "dedup_minhash_lsh": lambda s, d: _mh.minhash_dedup_pairs(
        s, d, hash_name=_mh.CATALOG_HASH, materialize=False
    ),
    "dedup_simhash": lambda s, d: _sh.QUERY(s, d, materialize=False),
    "dedup_containment": lambda s, d: _containment_pairs(s, d, materialize=False),
    "media_image_neardup": lambda s, d: _imagehash.image_neardup_pairs(
        s, d, materialize=False
    ),
    "media_mixed_neardup": lambda s, d: _mixed.mixed_neardup_pairs(
        s, d, materialize=False
    ),
    "media_audio_neardup": lambda s, d: _audiohash.audio_neardup_pairs(
        s, d, materialize=False
    ),
    "media_video_neardup": lambda s, d: _videohash.video_neardup_pairs(
        s, d, materialize=False
    ),
}

COMMENT = {
    "q3_star_revenue": "Star join: both dimension sides BroadcastExchange; the lineitem fact scan never shuffles for the join — one Exchange total, for the final aggregate.",
    "q6_forecast_revenue": "All three predicates in PushedFilters at the parquet scan; ReadSchema is the 3-column projection; single partial+final HashAggregate.",
    "dedup_embedding_cosine": "Multi-table LSH blocking under the round-10 quantized-integer portable law: one MapInPandas emits (tbl, sig)-keyed signature rows (exact integer dots), one hashpartitioning Exchange into the grouped per-bucket exact-integer verify, then a pair-distinct — compute bounded by bucket occupancy, no all-pairs stage, no driver collect.",
    "dedup_minhash_lsh": "OPH signatures as a whole-stage expression tree since round 10 (portable md5 via conv, ANSI-safe wrap filler) — NO Python worker anywhere in the plan; band-bucket self-join is a shuffled hash join on (band, bucket) — shuffle volume O(docs×bands), star-capped on over-BUCKET_CAP hot buckets since round 11; the exact-verify join touches only candidate pairs. (Catalog path eagerly checkpoints; the plan dumped here is the materialize=False lazy twin, the shape that actually executes.)",
    "media_image_neardup": "Attach + decode/pool are two narrow MapInPandas legs (real BMP codec, blobs never on the driver); the 64-bit dHash packs as a flat whole-stage-codegen OR chain (no higher-order functions); the hamming join is the SimHash Manku block equi-join — one (blk, key) shuffle, never all-pairs. (Catalog path persists the fingerprints; the dumped plan is the materialize=False lazy twin.)",
    "ann_ivf_drift_check": "Index build + frozen-quantizer append land partitioned-by-cluster parquet; the drift leg is ONE column-pruned (cluster, resid) scan into a 16-row aggregate joined against the stamped baselines — no embeddings read, no re-assignment, broadcast of the scalar median.",
    "media_png_features": "Genuine-PNG synth + decode are two narrow MapInPandas legs (per-row zlib DEFLATE/inflate — necessarily Python, blobs never on the driver); no Exchange anywhere: scan → synth → decode → project.",
    "media_jpeg_features": "Genuine baseline-JPEG synth + decode are two narrow MapInPandas legs (per-row Huffman entropy coding + vectorized block IDCT — necessarily Python, blobs never on the driver); no Exchange anywhere: scan → synth → decode → project.",
    "media_mixed_neardup": "Magic-byte decode dispatch (BMP/PNG/JPEG) rides the same two narrow MapInPandas legs; the 64-bit dHash packs as a flat OR chain and the hamming join is the SimHash Manku block equi-join — one (blk, key) shuffle shared across all three container formats, never all-pairs. (Catalog path persists the fingerprints; the dumped plan is the materialize=False lazy twin.)",
    "media_audio_neardup": "The WAV twin: chunk-walk decode + envelope pooling are the same two narrow MapInPandas legs, the hash is the same flat OR chain, the hamming join the same Manku block equi-join — one modality-agnostic shuffle shape. (Catalog path persists the fingerprints; the dumped plan is the materialize=False lazy twin.)",
    "media_video_neardup": "The AVI twin: chunk-walk decode + temporal-envelope pooling ride the same two narrow MapInPandas legs into the same OR-chain hash and Manku block equi-join — the fourth modality through one shuffle shape. (Catalog path persists the fingerprints; the dumped plan is the materialize=False lazy twin.)",
    "dsir_importance": "Bigram postings reduce map-side (partial HashAggregate before their Exchange); the 256-row bucket-stats side is BroadcastExchange; one doc_id shuffle for the final rollup.",
    "text_rare_bigram_ratio": "Double aggregation over bigrams with map-side partials; corpus frequency table joined back broadcast-eligible; the 1-row scalar rides a BroadcastNestedLoopJoin of bytes.",
    "chunk_documents": "Pure narrow plan: Scan → Project(split/sequence/transform) → Generate(posexplode) → Project, inside one WholeStageCodegen span; the only Exchange is the catalog's deterministic final sort.",
    "bm25_topk": "Postings filtered to the query terms BEFORE aggregation; df and corpus stats are BroadcastExchange; TakeOrderedAndProject implements the top-k (per-partition heaps, no global sort).",
    "curate_v2": "One documents scan feeds both the md5-dedup window and the bigram postings branch; bucket stats broadcast; the only wide shuffles are the dedup window partitioning and the final per-split rollup.",
    "asof_join_events": "Union of tagged timelines → ONE hashpartitioning Exchange on user_id → running last(ignorenulls) window; no range-join nested loop appears.",
    "emb_contrastive_triplets": "Label-window passes share one label shuffle; sizes/label-rank side tables are BroadcastExchange; output is one row per anchor — no pair-explosion join.",
    "pseudonymize_join": "Pseudonymization is a per-row md5 projection on both sides; the join keeps its hash/broadcast strategy — key type widens, plan shape does not.",
    "batch_plan_length_bucketed": "One hashpartitioning Exchange on the length bucket serves both the batch-id window and the manifest rollup.",
    "sample_weighted_reservoir": "A-ES top-k is TakeOrderedAndProject (per-partition size-k heaps merged on the driver) directly over the scan — no Exchange before it, no global sort.",
    "text_boilerplate_scrub": "Block extraction is an in-row expression before the Generate; the boilerplate set joins back as BroadcastHashJoin LeftAnti — the corpus never shuffles for membership; rebuild is one doc_id shuffle.",
    "trend_linear_fit": "Customer dim is BroadcastExchange; the five OLS moments fold into ONE partial+final HashAggregate pair on the segment key — the closed-form fit adds no shuffle beyond the aggregate.",
    "audit_column_profile": "One single-distinct aggregate per column, unioned — NO multi-distinct Expand (its 6x row replication measured 2.2x slower, r11 optimization round); every FileScan prunes to at most one column so total I/O equals the old single five-column scan, and n_rows rides a metadata-only count leg joined in as a 1-row broadcast.",
    "graph_pagerank": "Graph materialized ONCE as a vertex-sized adjacency table (InMemoryTableScan = lazy persist) — lineitem is not re-scanned per iteration; each iteration is one |V|-sized hash join (ranks x adjacency) + in-row explode + the edge-sized contribution aggregate, never nested-loop.",
    "text_keyness_lift": "One corpus shuffle for (source, token) counts with map-side partials; per-source and per-token totals are Window sums over the vocabulary-sized aggregate; the grand total rides a 1-row BroadcastNestedLoopJoin; the per-source top-k compiles to WindowGroupLimit.",
    "events_ks_drift": "Raw events reduce with partial HashAggregate; the type list is a tiny BroadcastNestedLoopJoin onto the distinct-value grid; both CDFs are cumulative Window sums over the grid, never over raw events.",
    "events_robust_outliers": "Events reduce once to the (type, centi-value) grid, materialized via lazy persist (InMemoryTableScan — the median, MAD, and outlier branches never re-scan the corpus); weighted-median passes are Window cumulative sums over the grid; med/MAD tables come back as BroadcastHashJoin.",
    "dedup_containment": "Postings self-join is hash-equi on (source, shingle-hash); stop-shingle DF cut and pruned set sizes come from Window over the postings — no nested loop over doc pairs, worst case bounded by the MAX_DF cap.",
    "emb_kmeans_train": "Centroids flow as a broadcast one-row pack (BroadcastNestedLoopJoin of bytes), identical generated code every iteration; assignment arg-min is a per-vector window; update is one (cluster, dim) hashpartitioning Exchange.",
    "feature_matrix_pit": "Tagged spine+event union, ONE hashpartitioning Exchange on user_id; both features (running last-ignorenulls + 7-day RANGE count) ride the same Window pass — no spine-events join anywhere.",
    "emb_label_noise_knn": "Exact kNN as block-matrix FlatMapCoGroupsInPandas (grid replication via BroadcastHashJoin); each block pair emits per-query partial top-K so the Window top-K shuffles n.B.K candidate rows, never n² pairs.",
    "er_fuzzy_match_parts": "Blocking turns the name-similarity self-join into a hash-equi join on the block key (SortMergeJoin/ShuffledHashJoin on blk) — never a nested loop over part pairs; Levenshtein verifies only co-blocked candidates.",
    "dedup_simhash_bits_check": "Pair members prune the corpus through a LeftSemi broadcast join BEFORE the shift-mask re-fingerprint MapInPandas — the independent re-derivation costs O(pair members), not O(corpus); the recheck itself is two hash joins against the fingerprint table.",
    "doc_length_quantiles_rank_check": "The unpivoted 3-quantile-per-lang table is a BroadcastHashJoin build side (null-safe key compiles to coalesce+isnull hash columns, never a nested loop); ONE corpus scan feeds all rank counts via one partial+final aggregate.",
    "dedup_cluster_weights": "Label propagation's output re-shuffles once on cluster_id for sizes and joins back on the same partitioning; weights are an in-row integer div projection.",
    "events_sessionize": "ONE hashpartitioning Exchange on user_id serves the lag window, the running session-id sum, and the per-session aggregate — three logical passes, one shuffle, no joins.",
    "dedup_scrub_spans": "Keeper election is a window over 64-bit shingle hashes (8-byte shuffle keys, no raw-string shuffle); cut positions explode only from non-keeper duplicated postings; reconstruction is ONE anti-join on (doc_id, pos) — every documents scan is pruned to doc_id+text, and nothing is ever all-pairs.",
    "dedup_scrub_intra": "The repeat test is a window keyed (doc_id, shingle-hash) — the doc id rides in the partition key, so a globally popular shingle never concentrates on one reducer; cuts and reconstruction reuse the same anti-join shape as the cross-doc scrub.",
    "eval_auc_binary": "Probe score is an in-row zip_with/aggregate fold; per-score partials reduce map-side into one hash agg; the prefix walk is RANGE-PARTITIONED (round 7): the only single-partition Window runs over the ~210-row bucket-offset table (shiftright(s,20) buckets), which joins back as BroadcastHashJoin, and the within-bucket prefix Window is partitioned by bucket — no task sorts more than one bucket of the per-score table.",
    "events_value_percentiles": "Count-grid order statistics (round 7): events reduce ONCE with partial+final HashAggregate to the (type, value) grid; the cumulative and rank-crossing Windows are partitioned by type and run over |distinct values| grid rows — no raw-row sort window anywhere.",
    "events_value_percentiles_cont": "Same grid plan as the DISC entry; CONT reads TWO crossings (the bracketing grid rows) and interpolates in-row — aggregates below every Window.",
    "events_conversion_lag": "User timelines fold via ONE map-side-combined conditional-min aggregate; lags reduce to the (lag_s) grid; the single-partition Window sits above that aggregate and spans |distinct whole-second lags|, never |users|.",
    "events_interarrival_stats": "Adjacent-diff Window is partitioned by (event_type, HOUR bucket) — a task holds one type-hour, not a type's history; the one hidden gap per boundary is stitched by lagging the bucket-spine last-timestamp table (grid-sized) and joining it back broadcast; the percentile walk then runs on the (type, gap) count grid.",
    "eval_score_deciles": "NTILE's closed form: per-score grid offsets (single-partition Window above the score aggregate only), one hash join back on s co-partitioned with the per-score row_number Window, bucket assignment as in-row integer arithmetic — the scored rows shuffle ONCE and never globally sort.",
    "eval_class_prf": "The 10-class probe fan-out is a BroadcastNestedLoopJoin of bytes; argmax compiles to WindowGroupLimit (partial per-partition rank cut before the vec_id shuffle); BOTH confusion margins come from ONE explode-contribution pass — a single FileScan, no self-join diamond.",
    "eval_mrr_at_k": "Same block-cogroup kernel as emb_label_noise_knn (FlatMapCoGroupsInPandas over a broadcast grid); candidates entering the global first-hit window are bounded n.B.k; label totals join back broadcast-size.",
    "eval_kendall_tau": "Upper-triangle block grid via BroadcastHashJoin replication; each FlatMapCoGroupsInPandas task reduces its block pair to FIVE int64 scalars, so the post-kernel aggregate sees B² rows — pair volume never shuffles.",
    "events_rolling_wau": "Both range-join inputs are pre-aggregated (the deduped (user, day) pair table and its day spine); the non-equi window join is BroadcastNestedLoopJoin with the tiny spine broadcast; event-grain rows never pass an Exchange.",
    "text_source_tv_matrix": "Per-source token counts reduce map-side once (a lazy persist, read as InMemoryTableScan, feeds totals, the pair spine, and both join sides); the common-token self-join is a shuffled equi join on token (SMJ — AQE may demote to shuffled-hash at runtime); totals ride BroadcastHashJoins; the TV fold is in-row integer arithmetic.",
    "text_vocab_coverage": "Corpus-sized explode reduces to the vocabulary with partial counts before its Exchange; the head is TakeOrderedAndProject (per-partition depth-max(k) heaps — the full vocab never sorts) and the rank Window spans those <= max(k) rows; |vocab| and total mass ride a 1-row broadcast; the ×3 cutoff fan-out is a BroadcastNestedLoopJoin of a 3-row table.",
    "pareto_revenue": "Distributed exact rank (round 7): customer-grain spend aggregate buckets by shiftright(spend,12); the only single-partition Window walks the occupied-bucket offset grid (price-bounded, not customer-bounded), which joins back as a BroadcastHashJoin; the raw-row row_number Window is partitioned per bucket and NTILE(10) is closed-form in-row arithmetic.",
    "text_stratified_filter": "Per-lang exact rank without a per-lang raw-row sort (round 7): quality buckets by floor(q*4096); per-(lang,bucket) counts reduce map-side; the offsets Window runs over the occupied-bucket grid only (null-safe broadcast join back — a NULL stratum must rank, not vanish); the sole raw-row Window is partitioned by (lang, _rb) — one 1/4096 quality slice of one stratum per task.",
    "text_ccnet_buckets": "Per-lang exact rank over the LM scores (round 7): avg_surprise buckets by shiftright(floor(avg),18); grid-only offset Window + (lang, _rb)-partitioned row_number; NTILE(3) is the closed-form size rule in-row — the 'en'-skewed single-task per-lang sort is gone while staying bit-identical to NTILE.",
    "audit_token_gini": "Pure count-grid closed form (round 7): docs reduce once to the (source, doc-length) grid with map-side partials; Σi·x_i is in-row arithmetic over the grid cumulative (tie groups contribute x·(c·cum + c(c+1)/2)) — every Window runs above the aggregate, no raw-row per-source sort.",
    "audit_benford": "Scan → project (int-cents digit) → 9-group hash agg with map-side partials; the share Window spans 9 rows. No join, no sort of data rows.",
    "events_growth_accounting": "Events reduce ONCE to distinct (user, week) pairs with map-side partials; the classification lag Window is partitioned per USER (high-cardinality — never a week's whole population in one task); the churn-identity lag walks the WEEK GRID above the weekly aggregate.",
    "events_hourly_seasonality": "One map-side-combined aggregate onto the 168-cell (dow, hour) grid (distinct-user term rides the same expand pass); the share Window spans the grid. No joins.",
    "events_ab_lift": "Single hash aggregate onto 2 variant rows — the md5 coin is a map-side projection, distinct users/converters ride Spark's distinct-aggregate expand with partials; zero joins, zero windows, zero single-partition exchanges.",
    "dedup_exact_prefix": "Prefix digest is a map-side slice+md5 projection (full text never shuffles); one hash aggregate with partials onto prefix-group rows; the >= 2 filter prunes post-agg. Same one-shuffle class as dedup_exact.",
    "orders_ship_lag_percentiles": "One orderkey equi-join (fact-fact, near-unique keys), then lags reduce to the (priority, days) COUNT GRID; cumulative and rank-crossing Windows are partitioned by priority over grid rows — the events_value_percentiles discipline on the TPC-H side.",
    "media_video_frames": "Genuine AVI containers synthesized and decoded executor-side through two chained MapInPandas (attach, then decode+explode) with ZERO Exchange — whole-stage-codegen'd scan feeds straight in; no shuffle at any scale.",
    "trend_mom_revenue": "Decimal-exact monthly sums reduce map-side to ≤|months| rows; the lag Window and pct projection run over that aggregate only.",
}

HEADER = """# PLANS — physical-plan audit of headline queries

Captured with `df.explain("formatted")` at sf0.01 (plan shape is
SF-independent; AQE may further coalesce at runtime). One entry per
operator family; the commentary states the property the plan must
keep — the same properties `tests/test_plans.py` asserts
mechanically. Regenerate with `python tools/gen_plans.py`.

"""


def main() -> None:
    spark = get_session("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out_path, "w") as f:
        f.write(HEADER)
        for name, comment in COMMENT.items():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                LAZY.get(name, QUERIES[name])(spark, sf).explain(mode="formatted")
            tree = buf.getvalue().split("\n\n")[0]
            f.write(f"## {name}\n\n{comment}\n\n```\n{tree.strip()}\n```\n\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
