"""Training-data pipeline operators: deterministic sampling / source
mixing, as-of (point-in-time) joins, and distribution statistics.

These are the everyday verbs of a 100 TB corpus build that the
reference's connector surface doesn't name but its users run on top:
down-weighting over-represented sources into a training mix, aligning
an event to the most recent fact row at-or-before its timestamp, and
profiling length distributions per language. All three are pure
DataFrame plans (no UDFs) and all three are DuckDB-oracle-checked —
the sampling one by construction, because the "random" coin is a
cryptographic hash both engines compute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import m, md5_bucket, t

__all__ = ["QUERIES", "ORACLES"]


# --- Deterministic weighted sampling (data mixing) --------------------

def mix_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sample of documents with a deterministic,
    engine-portable coin: bucket = first 32 bits of md5(doc_id) mod
    1000, keep iff bucket < rate*1000. Unlike ``df.sample`` (seeded
    per-partition RNG → changes with partitioning and engine), the
    hash coin is a pure per-row function — stable under repartition,
    retries, and re-runs, which is what makes a training mix
    reproducible. Rates cycle 0.25/0.5/0.75 by source number; a real
    pipeline feeds a rate table, which would broadcast-join the same
    way the CASE expression folds here. Embarrassingly parallel: scan
    → filter, no shuffle at all.
    """
    docs = t(spark, sf_dir, "documents")
    bucket = md5_bucket(F.col("doc_id").cast("string"), 1000)
    src_num = F.substring("source", 4, 10).cast("int")
    rate_millis = (
        F.when(src_num % 3 == 0, 250)
        .when(src_num % 3 == 1, 500)
        .otherwise(750)
    )
    return (
        docs.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate_millis)
        .select("doc_id", "source", "lang", "bucket")
        .orderBy("doc_id")
    )


ORACLE_MIX = """
SELECT doc_id, source, lang,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000 AS bucket
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000
      < CASE CAST(substr(source, 4) AS INT) % 3
            WHEN 0 THEN 250 WHEN 1 THEN 500 ELSE 750 END
ORDER BY doc_id
"""


# --- As-of (point-in-time) join ---------------------------------------

def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent order at-or-before
    the event time (ASOF LEFT JOIN). Spark lacks the operator, and the
    naive range join is O(events x orders per user); the scalable
    composition is union-then-window: tag order rows and event rows,
    sort each user's timeline once, and carry the latest order key
    forward with ``last(ignorenulls)``. One shuffle on user_id total —
    the same plan at 100 TB, with state bounded by window frame, not
    pair count. Orders are pre-reduced to one row per (user, date)
    (max orderkey — the ASOF tie rule) so the timeline is unambiguous;
    orders sort before events on timestamp ties so a.ts <= e.ts
    matches the oracle's ASOF semantics.
    """
    events = t(spark, sf_dir, "events")
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
        )
        .agg(F.max("o_orderkey").alias("order_key"))
    )
    timeline = events.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("long").alias("order_key"),
        F.lit(1).alias("tag"),
    ).unionByName(
        orders.select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("event_id"),
            "order_key",
            F.lit(0).alias("tag"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        timeline.withColumn(
            "last_order_key", F.last("order_key", ignorenulls=True).over(w)
        )
        .where(F.col("tag") == 1)
        .select("event_id", "user_id", "ts", "last_order_key")
        .orderBy("event_id")
    )


ORACLE_ASOF = """
WITH o AS (
    SELECT o_custkey AS user_id, o_orderdate AS ts,
           MAX(o_orderkey) AS order_key
    FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       CAST(o.order_key AS BIGINT) AS last_order_key
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.user_id AND o.ts <= e.ts
ORDER BY e.event_id
"""


# --- Distribution statistics (exact quantiles) ------------------------

def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p50/p90/p99 of document length plus mean — the
    profile every corpus filter threshold is read off of. Exact
    ``percentile`` here (matches the oracle bit-for-bit at any SF
    because both engines use the same linear interpolation on sorted
    doubles); the 100 TB variant swaps in ``approx_percentile(...,
    accuracy)`` — same plan shape, one pass, bounded memory — which is
    why the column names carry no "approx": callers choose per run.
    """
    docs = t(spark, sf_dir, "documents")
    q = F.percentile(F.col("n_chars").cast("double"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q.getItem(0).alias("p50_chars"),
            q.getItem(1).alias("p90_chars"),
            q.getItem(2).alias("p99_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "mean_chars"
            ),
        )
        .orderBy("lang")
    )


ORACLE_QUANTILES = """
SELECT lang, COUNT(*) AS n_docs,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50_chars,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90_chars,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.99) AS p99_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --- Binned range join ------------------------------------------------

_BIN_S = 600  # bin width == interval width -> each probe hits 2 bins


def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recent-view count per purchase over a *pure* time-range
    predicate (no equality key): naive Spark executes
    ``v.ts ∈ [b.ts-10min, b.ts)`` as a broadcast nested loop —
    O(|views|·|buys|) comparisons. The scale composition bins both
    sides by the interval width: every view lands in exactly one bin,
    every purchase probes its own bin and the previous one, and the
    bin equality turns the plan into a shuffled hash join with the
    exact range re-checked after the match. Comparisons drop to pairs
    sharing a bin — linear-ish for time-local data. Hot bins (load
    spikes) are ordinary skew: AQE split or salting composes on top.
    Bins come from the full-precision epoch (cast to double), so
    fractional-second timestamps bin consistently with the predicate.
    """
    ev = t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("ts").alias("v_ts"),
        F.floor(F.col("ts").cast("double") / _BIN_S).alias("bin"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("b_ts"),
        F.explode(
            F.array(
                F.floor(F.col("ts").cast("double") / _BIN_S),
                F.floor(F.col("ts").cast("double") / _BIN_S) - 1,
            )
        ).alias("bin"),
    )
    matched = (
        buys.join(views, "bin")
        .where(
            (F.col("v_ts") >= F.col("b_ts") - F.expr(f"interval {_BIN_S} seconds"))
            & (F.col("v_ts") < F.col("b_ts"))
        )
        .groupBy("buy_id")
        .agg(F.count(F.lit(1)).alias("n_recent_views"))
    )
    all_buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id")
    )
    return (
        all_buys.join(matched, "buy_id", "left")
        .select(
            "buy_id",
            F.coalesce("n_recent_views", F.lit(0)).cast("long").alias(
                "n_recent_views"
            ),
        )
        .orderBy("buy_id")
    )


ORACLE_RANGE_JOIN = f"""
SELECT b.event_id AS buy_id,
       CAST(COUNT(v.ts) AS BIGINT) AS n_recent_views
FROM (SELECT * FROM events WHERE event_type = 'purchase') b
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.ts >= b.ts - INTERVAL {_BIN_S} SECOND AND v.ts < b.ts
GROUP BY b.event_id
ORDER BY buy_id
"""


SEQ_BUDGET = 2048


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget training-sequence packing: concatenate documents
    (in deterministic doc_id order within each source shard) and cut
    every `SEQ_BUDGET` tokens — the standard LLM pretraining packing
    where documents straddle sequence boundaries. Each document's
    sequence is floor(cumulative_tokens_before / budget); the output
    is one row per (source, seq_id) with document and token counts.

    Scale: one shuffle (partition by source), one ordered window for
    the running token count, one hash aggregate. State per partition
    is a single running sum — the same plan at any corpus size; a
    real deployment makes `source` a finer shard key (e.g. crawl
    file) so packing parallelism tracks the input layout, which is
    exactly how this partitions: packing is per-shard-local and
    never global."""
    docs = t(spark, sf_dir, "documents")
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    packed = (
        docs.select("doc_id", "source", tok.alias("n_tokens"))
        .withColumn("seq_id", F.floor(cum_before / F.lit(SEQ_BUDGET)))
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


ORACLE_PACK = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {SEQ_BUDGET}.0) AS BIGINT) AS seq_id
  FROM d
)
SELECT source, seq_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY source, seq_id
"""


CAP_PER_SOURCE = 50


def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap: keep at most
    `CAP_PER_SOURCE` docs per source, chosen by the same portable
    md5 priority as mix_sample_weighted (stable under repartition,
    retries, and engines — `df.sample`/`rand()` is none of those).
    The per-domain cap every crawl pipeline applies so one hub site
    cannot dominate the corpus.

    Plan: one shuffle on source + WindowGroupLimit (Spark pushes the
    rank filter into a per-partition top-k before the shuffle), so
    shuffle volume is O(sources × cap), not O(corpus)."""
    docs = t(spark, sf_dir, "documents")
    pri = md5_bucket(F.col("doc_id").cast("string"), 1000000)
    w = Window.partitionBy("source").orderBy(F.col("pri"), F.col("doc_id"))
    return (
        docs.select("doc_id", "source", pri.alias("pri"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= CAP_PER_SOURCE)
        .select("doc_id", "source", F.col("rn").cast("long").alias("rn"))
    )


ORACLE_CAP = f"""
WITH pri AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 1000000 AS pri
  FROM documents
)
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
  FROM pri
) WHERE rn <= {CAP_PER_SOURCE}
"""


def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split: every document
    gets exactly one split by its md5-bucket (80/10/10), so the
    assignment is disjoint, exhaustive, and stable under repartition,
    retries, and engine choice — the property that makes a data card's
    "we held out 10%" claim reproducible. Stratification is implicit:
    the hash coin is uniform within every source/language stratum, no
    per-stratum pass needed. Embarrassingly parallel scan → project;
    the per-(source, split) count summary is the only (tiny) shuffle.
    """
    docs = t(spark, sf_dir, "documents")
    bucket = md5_bucket(F.col("doc_id").cast("string"), 1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_SPLIT = """
SELECT source, split, COUNT(*) AS n_docs
FROM (
  SELECT source,
         CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
    FROM documents
  )
)
GROUP BY source, split
"""


def curate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed plan — quality
    filter → exact dedup → stratified split → per-cell stats — the
    shape a real pretraining data job ships, demonstrating that every
    stage stays declarative and Catalyst plans the composition (filter
    pushdown through the window, single scan, two shuffles total).

    Stages: (1) quality gate: 20 ≤ token count ≤ 1000; (2) exact
    dedup: keep the minimum doc_id per md5(text) group (portable hash,
    so the oracle agrees; the window shuffles the 32-char digest + ids,
    never the text); (3) hash-deterministic 80/10/10 split; (4) roll
    up to (source, split) cells with doc and token totals."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    gated = docs.select(
        "doc_id", "source", F.md5("text").alias("h"), n_tok.alias("n_tok")
    ).where((F.col("n_tok") >= 20) & (F.col("n_tok") <= 1000))
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    bucket = md5_bucket(F.col("doc_id").cast("string"), 1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        deduped.select("source", split.alias("split"), "n_tok")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


ORACLE_CURATE = """
WITH gated AS (
  SELECT doc_id, source, md5(text) AS h, len(string_split(text, ' ')) AS n_tok
  FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM gated
  ) WHERE rn = 1
)
SELECT source,
       CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM (
  SELECT source, n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
  FROM deduped
)
GROUP BY source, split
"""


def stable_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense, contiguous global ids over (source, doc_id) order WITHOUT
    a global sort. ``row_number() OVER (ORDER BY …)`` funnels 100 TB
    through one task; the scale pattern is two-phase: rank within each
    source (a normal partitioned window), compute each source's
    starting offset from the sources-sized count table (its running
    sum is a window over |sources| rows — bytes), and add. Same
    result, no single-task stage; the offset table broadcasts.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    w_in = Window.partitionBy("source").orderBy("doc_id")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # asc_nulls_last pins the NULL-source group's position to match
    # the oracle's ORDER BY default (Spark windows default NULLS
    # FIRST, DuckDB NULLS LAST — a silent one-group offset shift)
    w_off = Window.orderBy(F.asc_nulls_last("source")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        F.col("source").alias("osrc"),
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
    )
    return (
        docs.withColumn("rn", F.row_number().over(w_in))
        # null-safe equality: a plain equi-join silently DROPS every
        # NULL-source doc (NULL != NULL) — data loss, not just drift
        .join(F.broadcast(offsets), F.col("source").eqNullSafe(F.col("osrc")))
        .select(
            "doc_id",
            "source",
            (F.col("offset") + F.col("rn")).cast("long").alias("global_id"),
        )
    )


ORACLE_GLOBAL_IDS = """
SELECT doc_id, source,
       row_number() OVER (ORDER BY source, doc_id) AS global_id
FROM documents
"""


def mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner: given per-source token counts (one
    aggregate over the corpus) and target mix weights, compute each
    source's token share of a fixed training budget and how many
    epochs (repeats, in milli-epochs) of that source the budget
    implies — the standard "how many passes over source X does my mix
    force" table planned before launching a run (cf. the data-mixture
    accounting in LLM data-curation pipelines).

    Weights here derive from the same source-number cycle as
    ``mix_sample_weighted`` (1/2/3 parts); the budget is a fixed
    multiple of the corpus total so the testdata exercises both the
    <1-epoch and >1-epoch branches. All arithmetic is BIGINT
    (milli-units, floor division) — order-free and engine-exact.

    Scale shape: ONE map-side-combined aggregate over the corpus into
    |sources| rows, then per-row arithmetic on the driver-sized result
    (still a DataFrame — nothing is collected). At 100 TB this is the
    cheapest query in the catalog: a scan with a 2-column projection.
    """
    docs = t(spark, sf_dir, "documents")
    # token count per doc: whitespace tokens (n_chars is also available
    # but tokens match the rest of the text family)
    src_num = F.substring("source", 4, 10).cast("int")
    per_source = (
        docs.select(
            "source",
            (src_num % 3 + 1).alias("weight_parts"),
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .groupBy("source", "weight_parts")
        .agg(F.sum("n_tok").alias("source_tokens"))
    )
    totals = per_source.agg(
        F.sum("source_tokens").alias("corpus_tokens"),
        F.sum("weight_parts").alias("total_parts"),
    )
    # fixed 2x-corpus budget; all divisions are BIGINT floor (`div`) —
    # double-division-then-cast truncates in Spark but rounds in DuckDB
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("weight_parts").cast("long").alias("weight_parts"),
            F.col("source_tokens").cast("long").alias("source_tokens"),
            F.expr("(corpus_tokens * 2 * weight_parts) div total_parts")
            .cast("long")
            .alias("budget_tokens"),
            F.expr(
                "(corpus_tokens * 2 * weight_parts * 1000) div (total_parts * source_tokens)"
            )
            .cast("long")
            .alias("epochs_milli"),
        )
        .orderBy("source")
    )


ORACLE_EPOCH_PLAN = """
WITH per_source AS (
  SELECT source,
         CAST(substr(source, 4) AS INT) % 3 + 1 AS weight_parts,
         SUM(len(string_split(text, ' '))) AS source_tokens
  FROM documents GROUP BY 1, 2
), totals AS (
  SELECT SUM(source_tokens) AS corpus_tokens, SUM(weight_parts) AS total_parts
  FROM per_source
)
SELECT source,
       CAST(weight_parts AS BIGINT) AS weight_parts,
       CAST(source_tokens AS BIGINT) AS source_tokens,
       CAST((corpus_tokens * 2 * weight_parts) // total_parts AS BIGINT) AS budget_tokens,
       CAST((corpus_tokens * 2 * weight_parts * 1000) // (total_parts * source_tokens) AS BIGINT) AS epochs_milli
FROM per_source CROSS JOIN totals
ORDER BY source
"""


QUERIES = {
    "mix_sample_weighted": mix_sample_weighted,
    "mix_epoch_plan": mix_epoch_plan,
    "split_train_eval": split_train_eval,
    "curate_end_to_end": curate_end_to_end,
    "stable_global_ids": stable_global_ids,
    "per_source_cap": per_source_cap,
    "asof_join_events": asof_join_events,
    "doc_length_quantiles": doc_length_quantiles,
    "range_join_binned": range_join_binned,
    "pack_sequences": pack_sequences,
}

ORACLES = {
    "mix_sample_weighted": ORACLE_MIX,
    "mix_epoch_plan": ORACLE_EPOCH_PLAN,
    "split_train_eval": ORACLE_SPLIT,
    "curate_end_to_end": ORACLE_CURATE,
    "stable_global_ids": ORACLE_GLOBAL_IDS,
    "per_source_cap": ORACLE_CAP,
    "asof_join_events": ORACLE_ASOF,
    "doc_length_quantiles": ORACLE_QUANTILES,
    "range_join_binned": ORACLE_RANGE_JOIN,
    "pack_sequences": ORACLE_PACK,
}


def curate_v2(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Round-2 flagship composition: the full modern curation chain as
    ONE declarative plan — quality gate → exact dedup → DSIR-style
    importance selection → hash split → context-window chunk
    accounting — i.e. functions/lm.py's scoring and
    operators/chunking.py's window math composed INSIDE the pipeline
    rather than run as separate jobs. Catalyst fuses it: one corpus
    scan feeds both the md5-dedup window and the bigram postings, the
    bucket-stats join is a broadcast, and the final rollup is the only
    wide shuffle over document-count-sized rows.

    Selection rule: keep docs whose mean hashed-bigram importance is
    at least parity with the corpus (importance ≥ SCALE·n_feat — the
    integer cross-multiply form of "average target/raw ratio ≥ 1"),
    i.e. docs that look at least as target-language-like as the
    average. All stages integer/md5-deterministic ⇒ byte-exact oracle.
    """
    from aliyun_emapreduce_datasources_spark.functions.lm import (
        N_BUCKETS as DSIR_NB,
        SCALE as DSIR_SCALE,
        TARGET_LANG,
    )
    from aliyun_emapreduce_datasources_spark.functions.text import shingles, tokens
    from aliyun_emapreduce_datasources_spark.operators.chunking import STRIDE, WINDOW

    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    gated = docs.select(
        "doc_id", "lang", "text", n_tok.alias("n_tok")
    ).where((F.col("n_tok") >= 20) & (F.col("n_tok") <= 1000))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    if materialize:
        # deduped feeds the bigram postings AND the kept-join; per
        # feeds bstats AND the importance join. A lazy checkpoint, not
        # the shared-subtree persist: a persist() form was A/B'd in r12
        # and was consistently ~1.3-1.7x slower isolated (columnar
        # encode of the text-fat rows + no plan truncation for the
        # downstream pipeline).
        deduped = deduped.localCheckpoint(eager=False)

    per = (
        deduped.select(
            "doc_id", "lang", F.explode(shingles(tokens("text"), 2)).alias("b")
        )
        .select(
            "doc_id",
            "lang",
            md5_bucket("b", DSIR_NB).alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if materialize:
        per = per.localCheckpoint(eager=False)
    bstats = per.groupBy("bucket").agg(
        F.sum("c").alias("raw_c"),
        F.sum(
            F.when(F.col("lang") == TARGET_LANG, F.col("c")).otherwise(F.lit(0))
        ).alias("target_c"),
    )
    imp = (
        per.join(F.broadcast(bstats), "bucket")
        .withColumn("w", F.expr(f"({DSIR_SCALE} * (target_c + 1)) div (raw_c + 1)"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w")).alias("importance"),
            F.sum("c").alias("n_feat"),
        )
        .where(F.col("importance") >= DSIR_SCALE * F.col("n_feat"))
        .select("doc_id")
    )
    kept = deduped.join(imp, "doc_id")

    bucket = md5_bucket(F.col("doc_id").cast("string"), 1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    n_chunks = F.expr(
        f"(greatest(n_tok - {WINDOW}, 0) + {STRIDE} - 1) div {STRIDE} + 1"
    )
    return (
        kept.select(split.alias("split"), "n_tok", n_chunks.alias("n_chunks"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
        )
        .orderBy("split")
    )


ORACLE_CURATE_V2 = """
WITH gated AS (
  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tok
  FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), per AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(b), 1, 8)) AS BIGINT) % 256 AS bucket,
         COUNT(*) AS c
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(text,' ')) - 1, 0)),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           )) AS b
    FROM deduped
  )
  GROUP BY 1, 2, 3
), bstats AS (
  SELECT bucket, SUM(c) AS raw_c,
         SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS target_c
  FROM per GROUP BY 1
), imp AS (
  SELECT doc_id
  FROM per JOIN bstats USING (bucket)
  GROUP BY doc_id
  HAVING SUM(c * ((1000000 * (target_c + 1)) // (raw_c + 1))) >= 1000000 * SUM(c)
), kept AS (
  SELECT d.* FROM deduped d JOIN imp USING (doc_id)
)
SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM((greatest(n_tok - 64, 0) + 48 - 1) // 48 + 1) AS BIGINT) AS n_chunks
FROM (
  SELECT n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
  FROM kept
)
GROUP BY 1
ORDER BY split
"""

QUERIES["curate_v2"] = curate_v2
ORACLES["curate_v2"] = ORACLE_CURATE_V2


def doc_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of ``doc_length_quantiles``: single-pass
    ``approx_percentile`` (KLL-style bounded-memory sketch per group)
    instead of exact percentile's full sort. Same plan shape and
    column names, so callers swap by name only. Approximate by design
    → rows-only catalog check; the rank-error bound vs the exact twin
    is pinned in tests/test_pipeline.py."""
    docs = t(spark, sf_dir, "documents")
    q = F.expr(
        "approx_percentile(cast(n_chars as double), array(0.5, 0.9, 0.99), 1000)"
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q.getItem(0).alias("p50_chars"),
            q.getItem(1).alias("p90_chars"),
            q.getItem(2).alias("p99_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        )
        .orderBy("lang")
    )


QUERIES["doc_length_quantiles_approx"] = doc_length_quantiles_approx


def pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving identity handling: replace user ids with a
    keyed-hash pseudonym (md5(salt‖id) — deterministic per run-key,
    unlinkable without it) in BOTH the fact and dimension tables, and
    prove referential integrity survives: the pseudonym join produces
    exactly the per-user rollup the raw-id join would. The salt would
    come from a secret store at deployment; it is fixed here so the
    oracle can reproduce the pseudonyms.

    Scale shape: pseudonymization is a per-row expression (no
    shuffle); the join keys change but the join plan does not — same
    hash/broadcast strategy, same shuffle volume (32-hex keys instead
    of longs; at 100 TB substring to 16 hex for half the bytes).
    """
    salt = "run-key-2024"
    events = t(spark, sf_dir, "events")
    customer = t(spark, sf_dir, "customer")
    p_ev = events.select(
        F.md5(F.concat(F.lit(salt), F.col("user_id").cast("string"))).alias("p_uid"),
        "value",
    )
    p_cust = customer.select(
        F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string"))).alias("p_uid"),
        "c_acctbal",
    )
    return (
        p_ev.groupBy("p_uid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(m("value")).cast("double").alias("total_value"),
        )
        .join(p_cust, "p_uid")
        .select("p_uid", "n_events", "total_value", m("c_acctbal").cast("double").alias("acctbal"))
        .orderBy("p_uid")
    )


ORACLE_PSEUDO = """
WITH p_ev AS (
  SELECT md5('run-key-2024' || CAST(user_id AS VARCHAR)) AS p_uid, value
  FROM events
), p_cust AS (
  SELECT md5('run-key-2024' || CAST(c_custkey AS VARCHAR)) AS p_uid, c_acctbal
  FROM customer
)
SELECT p_uid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(CAST(ANY_VALUE(c_acctbal) AS DECIMAL(18,6)) AS DOUBLE) AS acctbal
FROM p_ev JOIN p_cust USING (p_uid)
GROUP BY p_uid
ORDER BY p_uid
"""


def batch_plan_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference/serving prep: group documents into length buckets
    (padding waste is quadratic in length spread) and assign
    contiguous batch ids of ``BATCH`` docs within each bucket —
    deterministic by doc_id order. Output is the batch manifest
    (bucket, batch_id, n_docs, max/min tokens) the serving job
    consumes.

    Scale shape: one window per bucket partition (row_number div
    batch) — a single shuffle on the bucket key; the manifest rollup
    reuses the same partitioning. No global ordering anywhere.
    """
    BATCH = 16
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    bucket = F.least(F.floor(F.log2(n_tok)).cast("int"), F.lit(12))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    assigned = (
        docs.select("doc_id", n_tok.alias("n_tok"), bucket.alias("bucket"))
        .withColumn("batch_id", ((F.row_number().over(w) - 1) / BATCH).cast("long"))
    )
    return (
        assigned.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tok").cast("long").alias("min_tok"),
            F.max("n_tok").cast("long").alias("max_tok"),
        )
        .orderBy("bucket", "batch_id")
    )


ORACLE_BATCH_PLAN = """
WITH assigned AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         least(CAST(floor(log2(len(string_split(text, ' ')))) AS INT), 12) AS bucket
  FROM documents
), numbered AS (
  SELECT *, CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 16 AS BIGINT) AS batch_id
  FROM assigned
)
SELECT bucket, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tok) AS BIGINT) AS min_tok,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok
FROM numbered
GROUP BY 1, 2
ORDER BY bucket, batch_id
"""

QUERIES["pseudonymize_join"] = pseudonymize_join
ORACLES["pseudonymize_join"] = ORACLE_PSEUDO
QUERIES["batch_plan_length_bucketed"] = batch_plan_length_bucketed
ORACLES["batch_plan_length_bucketed"] = ORACLE_BATCH_PLAN


# --- Exact-k weighted sampling without replacement (A-ES) -------------

def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sample WITHOUT replacement via the
    Efraimidis–Spirakis A-ES scheme: every row draws a deterministic
    uniform u from the portable md5 coin and is ranked by
    ln(u)/w — the top-k ranks are a weighted sample where
    P(selection) tracks w, and unlike ``mix_sample_weighted``'s
    Bernoulli coin the output size is EXACTLY k. Weight here is the
    document's length in characters (longer docs proportionally more
    likely), the everyday "sample a fixed-token budget preferring
    substantive pages" verb of a corpus build.

    Scale shape: the ranking is a pure per-row projection (no shuffle)
    and the global top-k is ``orderBy(...).limit(k)`` which Spark
    plans as TakeOrderedAndProject — per-partition size-k heaps merged
    on the driver, NOT a global sort. 100 TB in, k rows out, one pass.

    Determinism note: the only float is ln(u)/w used for ORDERING; the
    emitted columns are all integer/string, so cross-engine last-ulp
    libm differences could only matter if two keys collided within
    1 ulp — with distinct md5 inputs that never happens in practice
    (and the parity test would catch it loudly).

    Reference tie-in: plays the role of LoghubSource's rate-limited
    admission (LoghubOffsetReader.scala:209) transplanted to corpus
    construction — bounded take, deterministic under replay.
    """
    k = 120
    docs = t(spark, sf_dir, "documents")
    # u in (0, 1]: (h+1) / 2^32 over the 32-bit md5 window
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    key = F.ln(u) / F.col("n_chars").cast("double")
    return (
        docs.withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "source", "lang", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


ORACLE_RESERVOIR = """
WITH keyed AS (
  SELECT doc_id, source, lang, n_chars,
         ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
            / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents
)
SELECT * FROM (
  SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars
  FROM keyed
  ORDER BY es_key DESC, doc_id
  LIMIT 120
)
ORDER BY doc_id
"""


QUERIES["sample_weighted_reservoir"] = sample_weighted_reservoir
ORACLES["sample_weighted_reservoir"] = ORACLE_RESERVOIR


# --- Point-in-time feature matrix (leakage-free training assembly) ----

def feature_matrix_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature assembly — the feature-store verb
    that guards against label leakage: for every order (the label
    spine row), attach the customer's event features AS OF the order
    timestamp — (a) the last event value at-or-before it, (b) the
    event count in the trailing 7 days — never anything later.

    Scale shape (same family as asof_join_events): union the tagged
    spine and event timelines, ONE shuffle on user_id, and both
    features come from window frames over that single sort — a running
    ``last(ignorenulls)`` and a RANGE frame count on epoch micros. No
    spine x events range join, no per-feature re-shuffle; adding more
    trailing-window features is adding columns to the same window
    pass. Events sort before the spine on timestamp ties ("at or
    before" includes same-instant events).

    Determinism: epoch-micro RANGE bounds and integer counts; the last
    value is exact-decimal → milli integer. Oracle mirrors the same
    union + frames.
    """
    events = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("seq"),
        F.expr("CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 1000) AS BIGINT)").alias("val_milli"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("order_key"),
    )
    spine = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        F.lit(None).cast("long").alias("seq"),
        F.lit(None).cast("long").alias("val_milli"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey").alias("order_key"),
    )
    tl = events.unionByName(spine)
    order_cols = [F.col("us"), F.col("is_event").desc(), F.col("seq"), F.col("order_key")]
    w_last = (
        Window.partitionBy("user_id")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_7d = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    return (
        tl.withColumn("last_val_milli", F.last("val_milli", ignorenulls=True).over(w_last))
        .withColumn("n_events_7d", F.sum("is_event").over(w_7d).cast("long"))
        .where(F.col("is_event") == 0)
        .select(
            "order_key",
            "user_id",
            "last_val_milli",
            F.coalesce("n_events_7d", F.lit(0)).alias("n_events_7d"),
        )
        .orderBy("order_key")
    )


ORACLE_PIT = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(event_id AS BIGINT) AS seq,
         CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 1000) AS BIGINT) AS val_milli,
         1 AS is_event, CAST(NULL AS BIGINT) AS order_key
  FROM events
), sp AS (
  SELECT o_custkey AS user_id, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
         CAST(NULL AS BIGINT) AS seq, CAST(NULL AS BIGINT) AS val_milli,
         0 AS is_event, o_orderkey AS order_key
  FROM orders
), tl AS (
  SELECT * FROM ev UNION ALL BY NAME SELECT * FROM sp
), feat AS (
  SELECT *,
         last_value(val_milli IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY us, is_event DESC, seq, order_key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_val_milli,
         SUM(is_event) OVER (
           PARTITION BY user_id ORDER BY us
           RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS n_events_7d
  FROM tl
)
SELECT order_key, user_id, last_val_milli,
       CAST(COALESCE(n_events_7d, 0) AS BIGINT) AS n_events_7d
FROM feat
WHERE is_event = 0
ORDER BY order_key
"""


QUERIES["feature_matrix_pit"] = feature_matrix_pit
ORACLES["feature_matrix_pit"] = ORACLE_PIT


# --- soft-dedup-weighted mixture accounting ---------------------------

def mix_soft_dedup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting AFTER soft dedup: each document's
    tokens count at its near-dup cluster weight (1/cluster_size, from
    `dedup_cluster_weights`), so duplicated text contributes one
    document's worth of tokens to the mixture no matter how many
    copies exist — the bridge between the dedup family and the
    `mix_epoch_plan`-style budget planning, computed end to end
    (pairs → clusters → weights → per-source effective tokens).

    Exactness: effective tokens in integer ppm
    (Σ n_tokens · weight_ppm); no float ever materializes.

    Scale shape: the cluster-weights composition (see
    dedup/clusters.py) plus ONE broadcast-sized join back to the
    corpus scan (weights table is |docs| rows of three longs — at
    corpus scale flip the build side; the join key is doc_id either
    way) and a per-source aggregate with map-side partials.
    """
    from aliyun_emapreduce_datasources_spark.dedup.clusters import (
        dedup_cluster_weights,
    )

    docs = t(spark, sf_dir, "documents")
    weights = dedup_cluster_weights(spark, sf_dir).select("doc_id", "weight_ppm")
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.select("doc_id", "source", tok.alias("n_tokens"))
        .join(weights, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("raw_tokens"),
            F.sum(F.col("n_tokens") * F.col("weight_ppm")).alias(
                "effective_token_ppm"
            ),
        )
        .orderBy("source")
    )


def _oracle_soft_dedup() -> str:
    from aliyun_emapreduce_datasources_spark.dedup.clusters import (
        ORACLE_CLUSTER_WEIGHTS,
    )

    # reuse the cluster-weights oracle verbatim as a subquery: the
    # driver-checked weights entry and this accounting row can never
    # drift apart
    weights_sub = ORACLE_CLUSTER_WEIGHTS.replace("ORDER BY doc_id", "")
    return f"""
WITH w AS ({weights_sub})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS raw_tokens,
       CAST(SUM(len(string_split(d.text, ' ')) * w.weight_ppm) AS BIGINT)
         AS effective_token_ppm
FROM documents d JOIN w USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


QUERIES["mix_soft_dedup_accounting"] = mix_soft_dedup_accounting
ORACLES["mix_soft_dedup_accounting"] = _oracle_soft_dedup()


# --- temperature-scaled mixture allocation ----------------------------

TEMP_BUDGET_TOKENS = 10_000_000


def mix_temperature_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling allocation (the multilingual
    alpha-sampling rule of mT5/XLM-R: sample source i with
    p_i ∝ p_raw_i^(1/T)): flatten the raw source distribution so
    high-resource sources are down-weighted and low-resource sources
    up-weighted before drawing a fixed token budget. T = 2, i.e. the
    weight is an IEEE ``sqrt`` — correctly rounded per IEEE 754, so
    both engines compute bit-identical weights from the same exact
    int64 token counts (the remaining sum/divide agree to well inside
    the driver's 1e-9 rtol).

    Output per source: doc/token counts, raw share, tempered share,
    the token allocation from a fixed budget, and the boost factor
    (tempered/raw — >1 means the source is up-sampled).

    Scale shape: ONE map-side-combined aggregate over the corpus into
    |sources| rows, then an unbounded window over that driver-sized
    result (still distributed — nothing collected). Cheapest plan
    shape in the catalog at 100 TB: a scan with a 2-column projection.
    """
    docs = t(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn("w", F.sqrt(F.col("n_tokens").cast("double")))
    )
    w_all = Window.partitionBy()
    return (
        per_source.withColumn("tot_tokens", F.sum("n_tokens").over(w_all))
        .withColumn("tot_w", F.sum("w").over(w_all))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")).alias("p_raw"),
            (F.col("w") / F.col("tot_w")).alias("p_temp"),
            (F.col("w") / F.col("tot_w") * F.lit(float(TEMP_BUDGET_TOKENS))).alias("alloc_tokens"),
            (
                (F.col("w") / F.col("tot_w"))
                / (F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"))
            ).alias("boost"),
        )
        .orderBy("source")
    )


ORACLE_TEMP_ALLOC = f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
), win AS (
  SELECT *,
         SQRT(CAST(n_tokens AS DOUBLE)) AS w,
         SUM(n_tokens) OVER () AS tot_tokens,
         SUM(SQRT(CAST(n_tokens AS DOUBLE))) OVER () AS tot_w
  FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS p_raw,
       w / tot_w AS p_temp,
       w / tot_w * {float(TEMP_BUDGET_TOKENS)} AS alloc_tokens,
       (w / tot_w) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS boost
FROM win
ORDER BY source
"""


QUERIES["mix_temperature_alloc"] = mix_temperature_alloc
ORACLES["mix_temperature_alloc"] = ORACLE_TEMP_ALLOC


# --- UniMax budget-capped allocation ----------------------------------

UNIMAX_EPOCH_CAP = 2


def mix_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax sampling allocation (Chung et al., "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023) — the successor to temperature sampling
    (``mix_temperature_alloc``): spread a fixed token budget as
    UNIFORMLY as possible across sources, subject to a per-source
    repeat cap of ``UNIMAX_EPOCH_CAP`` epochs (capacity = cap ×
    source tokens). The optimum is classic waterfilling: sources whose
    capacity sits below the water level are consumed entirely
    ("capped"); everyone else gets the identical level.

    The closed form rides one window over the |sources|-row aggregate:
    sort by capacity ascending; row i is capped iff even granting its
    own capacity to every remaining source would still fit the
    remaining budget — ``cum_before + capacity·(n−i+1) ≤ budget`` —
    an ALL-INT64 predicate, so capped-ness is engine-exact (ties in
    capacity leave the predicate invariant: cum_before grows by
    exactly the tied capacity per rank step). The water level is then
    one IEEE division, (budget − capped_total) / n_uncapped.

    The budget itself derives from the data — ``(39·total) DIV 20``,
    i.e. 1.95 average epochs against a 2-epoch cap — so the split is
    non-degenerate (both capped and uncapped sources) at every SF of
    the driver's corpus without tuning constants per scale.

    Scale shape: identical to mix_temperature_alloc — ONE map-side
    combined aggregate to |sources| rows; the windows run over that
    driver-sized table (sources number in the hundreds even at
    100 TB). The corpus itself is touched once, 2 columns.
    """
    docs = t(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn("capacity", (F.col("n_tokens") * F.lit(UNIMAX_EPOCH_CAP)).cast("long"))
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("capacity", "source")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    staged = (
        per_source.withColumn(
            "budget", F.expr(f"39 * sum(n_tokens) OVER () DIV 20").cast("long")
        )
        .withColumn("n_src", F.count(F.lit(1)).over(w_all))
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("cum_before", F.coalesce(F.sum("capacity").over(w_cum), F.lit(0)))
        .withColumn(
            "capped",
            (F.col("cum_before") + F.col("capacity") * (F.col("n_src") - F.col("rn") + 1))
            <= F.col("budget"),
        )
    )
    return (
        staged.withColumn(
            "capped_total",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("capacity"))).over(w_all), F.lit(0)
            ),
        )
        .withColumn(
            "n_uncapped",
            F.sum(F.when(F.col("capped"), 0).otherwise(1)).over(w_all),
        )
        .withColumn(
            "alloc_tokens",
            F.when(F.col("capped"), F.col("capacity").cast("double")).otherwise(
                (F.col("budget") - F.col("capped_total")).cast("double")
                / F.col("n_uncapped").cast("double")
            ),
        )
        .withColumn("epochs", F.col("alloc_tokens") / F.col("n_tokens").cast("double"))
        .select(
            "source", "n_docs", "n_tokens", "capacity", "capped",
            "alloc_tokens", "epochs",
        )
        .orderBy("source")
    )


ORACLE_UNIMAX = f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
), staged AS (
  SELECT *,
         CAST(n_tokens * {UNIMAX_EPOCH_CAP} AS BIGINT) AS capacity,
         CAST(39 * SUM(n_tokens) OVER () // 20 AS BIGINT) AS budget,
         COUNT(*) OVER () AS n_src,
         ROW_NUMBER() OVER (ORDER BY n_tokens * {UNIMAX_EPOCH_CAP}, source) AS rn,
         CAST(COALESCE(SUM(n_tokens * {UNIMAX_EPOCH_CAP}) OVER (
             ORDER BY n_tokens * {UNIMAX_EPOCH_CAP}, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM per
), flagged AS (
  SELECT *,
         cum_before + capacity * (n_src - rn + 1) <= budget AS capped
  FROM staged
), leveled AS (
  SELECT *,
         CAST(COALESCE(SUM(CASE WHEN capped THEN capacity END) OVER (), 0) AS BIGINT)
           AS capped_total,
         CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) OVER () AS BIGINT) AS n_uncapped
  FROM flagged
)
SELECT source, n_docs, n_tokens, capacity, capped,
       CASE WHEN capped THEN CAST(capacity AS DOUBLE)
            ELSE CAST(budget - capped_total AS DOUBLE) / CAST(n_uncapped AS DOUBLE)
       END AS alloc_tokens,
       CASE WHEN capped THEN CAST(capacity AS DOUBLE)
            ELSE CAST(budget - capped_total AS DOUBLE) / CAST(n_uncapped AS DOUBLE)
       END / CAST(n_tokens AS DOUBLE) AS epochs
FROM leveled
ORDER BY source
"""


QUERIES["mix_unimax_alloc"] = mix_unimax_alloc
ORACLES["mix_unimax_alloc"] = ORACLE_UNIMAX
