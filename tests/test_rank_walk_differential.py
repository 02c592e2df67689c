"""Bit-identity differentials for the round-7 grid-form rank walks.

Each rewritten operator (count-grid order statistics, range-partitioned
AUC prefix, closed-form NTILE deciles, bucketed interarrival stitch)
is compared against the NAIVE raw-row window form it replaced —
re-implemented verbatim here from the pre-rewrite code — on synthetic
ADVERSARIAL corpora built to break the equivalence if it were sloppy:

- heavy value ties (the grid collapses ties; rank targets land INSIDE
  tie runs, and NTILE boundaries SPLIT tie runs across buckets),
- identical timestamps within a type (the stitch's ordering claim says
  same-``us`` ties always share a bucket),
- an ultra-sparse event type (every gap is a cross-bucket stitch),
- a NULL event type (windows/group-bys keep it; equi-joins would
  drop it — the null-robustness regression, pinned here too).

The naive forms are collected and compared frame-equal (exact values,
no tolerance) — the same "prefix-vs-plain bit-identical" discipline as
tests/test_dedup.py's winnow pin.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators import events as ev_mod
from aliyun_emapreduce_datasources_spark.operators.common import m, t


def _write_events(dirpath) -> str:
    """Adversarial events table: 'hot' (5000 rows, values from a
    12-value set → massive ties, plus NULL values), 'sparse' (one
    event every ~3 h → every gap crosses an hourly bucket), NULL type
    (9 rows), and view/purchase lanes with heavily tied lags."""
    rng = np.random.default_rng(42)
    rows = []
    start = np.datetime64("2024-01-01T00:00:00.000000")
    eid = 0

    def add(off_us: int, typ, val, uid: int):
        nonlocal eid
        rows.append((eid, start + np.timedelta64(int(off_us), "us"), uid, typ, val))
        eid += 1

    tie_vals = [round(v, 2) for v in rng.uniform(0, 100, 12)]
    for i in range(5000):
        off = int(rng.integers(0, 20 * 24 * 3600 * 1_000_000))
        v = None if i % 97 == 0 else tie_vals[int(rng.integers(0, 12))]
        add(off, "hot", v, int(rng.integers(0, 300)))
    # same-us ties inside 'hot': 50 pairs sharing an exact timestamp
    for i in range(50):
        off = int(rng.integers(0, 20 * 24 * 3600 * 1_000_000))
        add(off, "hot", tie_vals[0], 1)
        add(off, "hot", tie_vals[1], 2)
    for i in range(120):  # sparse: ~3 h apart, jittered
        add(i * 3 * 3600 * 1_000_000 + int(rng.integers(0, 1000)), "sparse",
            float(i), 7)
    for i in range(9):
        add(int(rng.integers(0, 10**9)), None, 5.0, 8)
    # conversion lanes: first-view/first-purchase with TIED whole-second
    # lags across many users (lag multiset = {10s x 40, 60s x 40, ...})
    for u in range(120):
        base = int(rng.integers(0, 10 * 24 * 3600)) * 1_000_000
        lag_s = [10, 60, 3600][u % 3]
        add(base, "view", 1.0, 10_000 + u)
        add(base + lag_s * 1_000_000 + int(rng.integers(0, 999_999)), "purchase",
            1.0, 10_000 + u)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows]),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, f"{dirpath}/events.parquet")
    return str(dirpath)


def _write_embeddings(dirpath) -> str:
    """80 distinct vectors x 10 copies → probe scores tie in runs of
    ~10 that STRADDLE decile boundaries (800 rows / 10 buckets = 80
    rows per bucket, not aligned to tie runs)."""
    rng = np.random.default_rng(7)
    distinct = rng.normal(0, 0.125, (80, 64)).astype(np.float32)
    vecs = np.repeat(distinct, 10, axis=0)
    n = len(vecs)
    perm = rng.permutation(n)  # interleave copies across vec_ids
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs[perm].tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{dirpath}/embeddings.parquet")
    return str(dirpath)


def _write_documents(dirpath) -> str:
    """Adversarial documents table for the round-7.5 rank swaps:
    duplicated texts → IDENTICAL quality scores and avg_surprise in
    runs that straddle the 90%-keep cut and tercile boundaries; a NULL
    lang stratum (equi-joins would drop it); NULL texts (NULL quality
    → NULL bucket); single-token docs (zero bigrams — outside the
    ccnet LM's domain); and token counts engineered so the vocabulary
    has exact count TIES at the top-k=20 coverage boundary."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i:02d}" for i in range(60)]
    rows = []
    did = 0

    def add(text, lang, source):
        nonlocal did
        rows.append((did, text, lang, source))
        did += 1

    # 40 distinct base texts, each repeated 8x (tie runs of 8), spread
    # over 3 langs + a NULL lang and 4 sources
    langs = ["en", "de", "fr", None]
    for b in range(40):
        n_tok = int(rng.integers(3, 40))
        base = " ".join(rng.choice(vocab[: 30 + b % 30], n_tok))
        for r in range(8):
            add(base, langs[b % 4], f"s{b % 4}")
    # unique-text filler so ranks aren't all inside tie runs
    for i in range(80):
        n_tok = int(rng.integers(2, 60))
        add(" ".join(rng.choice(vocab, n_tok)), langs[i % 4], f"s{i % 4}")
    for i in range(6):
        add(None, langs[i % 4], "s0")  # NULL text → NULL quality
    for i in range(5):
        add(vocab[i], "en", "s1")  # single token: zero bigrams
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, f"{dirpath}/documents.parquet")
    return str(dirpath)


def _write_orders(dirpath) -> str:
    """Orders with per-customer spends drawn from a SMALL value set →
    massive spend ties straddling decile boundaries (the closed-form
    NTILE must split tie runs exactly where the raw NTILE does)."""
    rng = np.random.default_rng(5)
    spend_vals = [1000.0, 2500.5, 2500.5, 7777.25, 50000.0]
    rows = []
    okey = 0
    base = np.datetime64("2023-06-01T00:00:00.000000")
    for cust in range(903):  # 903 % 10 != 0: unequal NTILE buckets
        for _ in range(int(rng.integers(1, 4))):
            rows.append(
                (
                    okey,
                    cust,
                    "O",
                    float(spend_vals[int(rng.integers(0, 5))]),
                    base + np.timedelta64(int(rng.integers(0, 10**6)), "s"),
                    "1-URGENT",
                )
            )
            okey += 1
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array([r[4] for r in rows]),
            "o_orderpriority": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, f"{dirpath}/orders.parquet")
    return str(dirpath)


@pytest.fixture(scope="module")
def ev_dir(tmp_path_factory):
    return _write_events(tmp_path_factory.mktemp("rankwalk_events"))


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    return _write_documents(tmp_path_factory.mktemp("rankwalk_docs"))


@pytest.fixture(scope="module")
def ord_dir(tmp_path_factory):
    return _write_orders(tmp_path_factory.mktemp("rankwalk_orders"))


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    return _write_embeddings(tmp_path_factory.mktemp("rankwalk_emb"))


def _frames_equal(a, b, sort_cols):
    pa_ = a.orderBy(*sort_cols).collect()
    pb_ = b.orderBy(*sort_cols).collect()
    assert len(pa_) == len(pb_)
    for ra, rb in zip(pa_, pb_):
        assert ra == rb, (ra, rb)


# --- naive reference forms (the pre-round-7 implementations, verbatim) --

def _naive_value_percentiles(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    pick = lambda p: F.max(
        F.when(F.col("rn") == F.expr(f"({p} * n + 99) DIV 100"), F.col("value"))
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min("value").alias("v_min"),
        pick(50).alias("p50"),
        pick(90).alias("p90"),
        pick(99).alias("p99"),
        F.max("value").alias("v_max"),
    )


def _naive_value_percentiles_cont(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )

    def pick(p):
        lo_rank = F.expr(f"({p} * (n - 1)) DIV 100") + 1
        f100 = F.expr(f"({p} * (n - 1)) % 100")
        v_lo = F.max(F.when(F.col("rn") == lo_rank, F.col("value")))
        v_hi = F.max(
            F.when(F.col("rn") == F.least(lo_rank + 1, F.col("n")), F.col("value"))
        )
        f_here = F.max(F.when(F.col("rn") == lo_rank, f100))
        return v_lo + f_here.cast("double") * (v_hi - v_lo) / F.lit(100.0)

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        pick(50).alias("p50"),
        pick(90).alias("p90"),
        pick(99).alias("p99"),
    )


def _naive_interarrival(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("gap", F.col("us") - F.lag("us").over(w))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    wg = Window.partitionBy("event_type").orderBy("gap")
    ranked = gaps.withColumn("rn", F.row_number().over(wg)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    pick = lambda p: F.max(
        F.when(F.col("rn") == F.expr(f"({p} * n + 99) DIV 100"), F.col("gap"))
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        pick(50).cast("long").alias("p50_us"),
        pick(90).cast("long").alias("p90_us"),
        pick(99).cast("long").alias("p99_us"),
        F.max("gap").cast("long").alias("max_us"),
    )


def _naive_conversion_lag(spark, sf_dir):
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase"),
    )
    lags = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        "user_id",
        F.expr("(first_purchase - first_view) div 1000000").alias("lag_s"),
    )
    w = Window.orderBy("lag_s", "user_id")
    ranked = lags.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    pick = lambda p: F.max(
        F.when(F.col("rn") == F.expr(f"({p} * n + 99) DIV 100"), F.col("lag_s"))
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("lag_s").cast("long").alias("min_s"),
        pick(50).cast("long").alias("p50_s"),
        pick(90).cast("long").alias("p90_s"),
        pick(99).cast("long").alias("p99_s"),
        F.max("lag_s").cast("long").alias("max_s"),
    )


# --- the differentials ---------------------------------------------------

def test_value_percentiles_grid_equals_raw_walk(spark, ev_dir):
    _frames_equal(
        ev_mod.events_value_percentiles(spark, ev_dir),
        _naive_value_percentiles(spark, ev_dir),
        ["event_type"],
    )


def test_value_percentiles_cont_grid_equals_raw_walk(spark, ev_dir):
    _frames_equal(
        ev_mod.events_value_percentiles_cont(spark, ev_dir),
        _naive_value_percentiles_cont(spark, ev_dir),
        ["event_type"],
    )


def test_interarrival_bucket_stitch_equals_single_sort(spark, ev_dir):
    """Sparse type (every gap a stitch), NULL type, same-us ties — the
    bucketed form must reproduce the single-sort gap multiset exactly."""
    _frames_equal(
        ev_mod.events_interarrival_stats(spark, ev_dir),
        _naive_interarrival(spark, ev_dir),
        ["event_type"],
    )


def test_conversion_lag_grid_equals_global_walk(spark, ev_dir):
    _frames_equal(
        ev_mod.events_conversion_lag(spark, ev_dir),
        _naive_conversion_lag(spark, ev_dir),
        [F.lit(1)],
    )


def test_score_deciles_closed_form_equals_ntile(spark, emb_dir):
    """Tie runs of ~10 straddle every decile boundary (800 rows, 80
    distinct scores): the closed-form bucket rule must agree with
    NTILE row-for-row, including n_pos inside split tie runs."""
    from aliyun_emapreduce_datasources_spark.similarity.evalmetrics import (
        _coef_binary,
        _dot,
        eval_score_deciles,
    )
    from aliyun_emapreduce_datasources_spark.similarity.intdot import quantized

    scored = quantized(spark, emb_dir).select(
        "vec_id",
        _dot(F.col("qe"), _coef_binary()).alias("s"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    w = Window.orderBy("s", "vec_id")
    naive = (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.min("s").alias("s_min"),
            F.max("s").alias("s_max"),
        )
        .select(
            "decile",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n")).alias("pos_rate"),
            "s_min",
            "s_max",
        )
    )
    _frames_equal(eval_score_deciles(spark, emb_dir), naive, ["decile"])


def test_auc_range_partitioned_equals_global_prefix(spark, emb_dir):
    """80 distinct scores x 10 copies: tied scores carry mixed labels,
    so the ½-tie term is live — the bucketed prefix must reproduce the
    global walk's num2 exactly."""
    from aliyun_emapreduce_datasources_spark.similarity.evalmetrics import (
        _coef_binary,
        _dot,
        eval_auc_binary,
    )
    from aliyun_emapreduce_datasources_spark.similarity.intdot import quantized

    scored = quantized(spark, emb_dir).select(
        _dot(F.col("qe"), _coef_binary()).alias("s"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    with_cum = per_score.withColumn(
        "cum_nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).cast("long")
    )
    agg = with_cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (F.lit(2) * F.col("cum_nn") + F.col("nn")))
        .cast("long")
        .alias("auc_num2"),
    )
    naive = agg.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("auc_num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
        )
        .otherwise(F.lit(0.0))
        .alias("auc"),
    )
    _frames_equal(eval_auc_binary(spark, emb_dir), naive, [F.lit(1)])


# --- round-7.5 sweep: the five rank windows the plan-audit net missed ----

def test_pareto_bucketed_rank_equals_ntile(spark, ord_dir):
    """Spend ties straddle decile boundaries (5 distinct spends over
    903 customers, n % 10 != 0): the bucketed rank + closed-form NTILE
    must reproduce the raw global NTILE row-for-row."""
    from aliyun_emapreduce_datasources_spark.operators.analytic import pareto_revenue

    by_cust = (
        t(spark, ord_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(m("o_totalprice")).alias("spend"))
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    deciled = by_cust.withColumn("decile", F.ntile(10).over(w).cast("long"))
    total = by_cust.agg(F.sum("spend").alias("total"))
    naive = (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend").alias("rev"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            F.expr("CAST(CAST(rev * 1000 AS BIGINT) AS BIGINT)").alias("rev_milli"),
            F.expr(
                "CAST((1000 * CAST(rev * 1000 AS BIGINT)) DIV CAST(total * 1000 AS BIGINT) AS BIGINT)"
            ).alias("share_milli"),
        )
    )
    _frames_equal(pareto_revenue(spark, ord_dir), naive, ["decile"])


def test_stratified_filter_bucketed_rank_equals_lang_window(spark, doc_dir):
    """Quality tie runs of 8 straddle the 90% cut, a NULL lang stratum
    and NULL-text docs (NULL quality → NULL bucket) are kept: the
    bucketed per-lang rank must match the raw per-lang window."""
    from aliyun_emapreduce_datasources_spark.functions.text import (
        _quality_expr,
        quality_stratified_filter,
        tokens,
    )

    docs = t(spark, doc_dir, "documents")
    score = _quality_expr(tokens("text"))
    w = Window.partitionBy("lang")
    ranked = docs.select("doc_id", "lang", score.alias("quality")).select(
        "doc_id",
        "lang",
        "quality",
        F.row_number()
        .over(w.orderBy(F.col("quality").desc(), "doc_id"))
        .cast("long")
        .alias("lang_rank"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_lang"),
    )
    naive = ranked.where(F.col("lang_rank") * 10 <= F.col("n_lang") * 9)
    _frames_equal(quality_stratified_filter(spark, doc_dir), naive, ["doc_id"])


def test_ccnet_bucketed_rank_equals_lang_ntile(spark, doc_dir):
    """avg_surprise tie runs (8 copies per text) split across tercile
    boundaries; zero-bigram docs stay outside the domain; NULL lang is
    a stratum: bucketed rank + closed-form NTILE(3) vs raw NTILE."""
    from aliyun_emapreduce_datasources_spark.functions.lm import (
        lm_bigram_surprise,
        text_ccnet_buckets,
    )

    docs = t(spark, doc_dir, "documents").select("doc_id", "lang")
    scores = lm_bigram_surprise(spark, doc_dir).select("doc_id", "avg_surprise")
    w = Window.partitionBy("lang").orderBy(F.asc("avg_surprise"), F.asc("doc_id"))
    naive = (
        docs.join(scores, "doc_id")
        .withColumn("bucket_id", F.ntile(3).over(w).cast("long"))
        .withColumn(
            "bucket",
            F.when(F.col("bucket_id") == 1, F.lit("head"))
            .when(F.col("bucket_id") == 2, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .select("doc_id", "lang", "avg_surprise", "bucket_id", "bucket")
    )
    _frames_equal(text_ccnet_buckets(spark, doc_dir), naive, ["doc_id"])


def test_vocab_coverage_topk_equals_full_rank(spark, doc_dir):
    """Exact count ties at the k=20 boundary (token tie-break): the
    TakeOrdered top-k path must report the same covered mass as the
    full-vocab rank window."""
    from aliyun_emapreduce_datasources_spark.functions.text import (
        COVERAGE_KS,
        tokens,
        vocab_coverage,
    )

    docs = t(spark, doc_dir, "documents").where(F.col("text").isNotNull())
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token")))
    )
    ks = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    naive = (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum("cnt").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("rank") <= F.col("k"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
        )
        .withColumn(
            "coverage",
            F.col("covered_tokens").cast("double") / F.col("total_tokens"),
        )
    )
    _frames_equal(vocab_coverage(spark, doc_dir), naive, ["k"])


def test_token_gini_grid_closed_form_equals_rank_sum(spark, doc_dir):
    """Doc-length tie runs per source: the grid closed form
    x·(c·cum + c(c+1)/2) must equal Σi·x_i from the raw per-source
    rank (tie-order invariance makes them identical, not just close)."""
    from aliyun_emapreduce_datasources_spark.operators.analytic import (
        audit_token_gini,
    )

    docs = (
        t(spark, doc_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("x")
        )
    )
    w = Window.partitionBy("source").orderBy("x")
    ranked = docs.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("total_tokens"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("s1"),
    )
    gini = F.when(
        F.col("total_tokens") > 0,
        (F.lit(2) * F.col("s1") - (F.col("n_docs") + 1) * F.col("total_tokens"))
        .cast("double")
        / (F.col("n_docs") * F.col("total_tokens")),
    ).otherwise(F.lit(0.0))
    naive = agg.select("source", "n_docs", "total_tokens", gini.alias("gini"))
    _frames_equal(audit_token_gini(spark, doc_dir), naive, ["source"])
