"""Event-stream analytics: funnel, transition matrix, retention cohorts.

The reference's streaming corpus aggregates event streams by time
window (q100-q103); a product-analytics user of the same engine asks
three more questions of the identical event table — how far users get
through an ordered funnel, what they do next (Markov transitions), and
whether they come back (cohort retention). All three are pure
DataFrame plans over the driver's ``events`` table.

Scale notes (100 TB events):

- Every plan shuffles on ``user_id`` (or the tiny transition/cohort
  key) — never on event rows without a key. Funnel stage aggregates
  are one row per user; the stage-to-stage joins are co-partitioned on
  ``user_id`` so AQE plans them shuffle-reuse, and the final counts
  are three scalars.
- The transition matrix is one window shuffle (lag/lead cost profile
  == groupBy on the partition key) followed by an aggregate onto
  |event_types|² rows.
- Retention folds each user's history to (first_day, distinct active
  days) in ONE aggregate with map-side partial; the per-user array is
  bounded by calendar days in range, not event count, so a 10⁹-event
  user still reduces to ≤366 elements. The exploded cohort grid is
  |cohort_days| × |offsets| — thousands of rows at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import centi_band, m, md5_bucket, o_centi_band, t

__all__ = ["QUERIES", "ORACLES"]


# --- ordered funnel ----------------------------------------------------

def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel: a user converts a stage
    only with an event strictly after their entry into the previous
    stage (first qualifying timestamp, the standard product-analytics
    definition). Output: one row per stage with converted-user count."""
    ev = t(spark, sf_dir, "events")

    def first_after(df: DataFrame, etype: str, prev: DataFrame, alias: str) -> DataFrame:
        step = df.where(F.col("event_type") == etype)
        if prev is not None:
            prev_col = prev.columns[-1]
            step = step.join(prev, "user_id").where(F.col("ts") > F.col(prev_col))
        return step.groupBy("user_id").agg(F.min("ts").alias(alias))

    v = first_after(ev, "view", None, "t_view")
    c = first_after(ev, "click", v, "t_click")
    p = first_after(ev, "purchase", c, "t_purchase")
    counts = [
        df.agg(F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n_users"))
        for stage, df in (("1_view", v), ("2_click", c), ("3_purchase", p))
    ]
    out = counts[0]
    for extra in counts[1:]:
        out = out.unionAll(extra)
    return out


ORACLE_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
"""


# --- next-event transition matrix --------------------------------------

def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts: for each user's timestamp-ordered
    event history, count (event_type → next event_type) pairs. Ties
    broken by event_id so the ordering is total in both engines."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_TRANSITIONS = """
SELECT from_type, to_type, COUNT(*) AS n
FROM (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
)
WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


# --- retention cohorts -------------------------------------------------

def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: users grouped by their first active day;
    each cell counts how many of that cohort were active ``day_offset``
    days later. One per-user aggregate (min day + distinct active
    days), then an explode onto the tiny cohort × offset grid."""
    ev = t(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("cohort_day"), F.collect_set("d").alias("days"))
    )
    return (
        per_user.select("cohort_day", F.explode("days").alias("d"))
        .groupBy(
            # ISO string, not DateType: the cross-engine compare is on
            # values, and date⇄timestamp pandas conversion differs.
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_RETENTION = """
WITH per_user AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS cohort_day,
         list_distinct(list(CAST(ts AS DATE))) AS days
  FROM events GROUP BY user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(datediff('day', cohort_day, d) AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM (SELECT cohort_day, unnest(days) AS d FROM per_user)
GROUP BY cohort_day, day_offset
"""


def events_error_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate anomaly flags: each hour's error share tested
    against the trailing-24-hour baseline (ratio of sums, not mean of
    ratios, so sparse hours don't distort the baseline). An hour is
    anomalous when its share exceeds 2× the baseline — evaluated as
    the integer cross-multiply ``n_err·trail_total > 2·trail_err·
    n_total``, so the flag is exact in both engines with no float
    division anywhere.

    Scale shape: one aggregate onto hours (map-side partials reduce
    each task to its hour count), then a ROWS-frame window over the
    tiny hourly table — |hours| rows regardless of event volume."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            # when/otherwise, NOT a bare boolean cast: (NULL = 'error')
            # is NULL, and an hour whose only events have NULL type
            # would sum to NULL here vs the oracle's CASE...ELSE 0
            F.sum(
                F.when(F.col("event_type") == "error", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_err"),
        )
    )
    w = Window.orderBy("h").rowsBetween(-24, -1)
    return (
        hourly.withColumn("trail_total", F.sum("n_total").over(w))
        .withColumn("trail_err", F.sum("n_err").over(w))
        .where(F.col("trail_total").isNotNull())
        .select(
            F.col("h").cast("string").alias("hour"),
            "n_total",
            "n_err",
            (
                F.col("n_err") * F.col("trail_total")
                > 2 * F.col("trail_err") * F.col("n_total")
            ).alias("is_anomaly"),
        )
    )


ORACLE_ERROR_ANOMALY = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
  FROM events GROUP BY h
), trailed AS (
  SELECT h, n_total, n_err,
         CAST(SUM(n_total) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_total,
         CAST(SUM(n_err) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_err
  FROM hourly
)
SELECT CAST(h AS VARCHAR) AS hour, n_total, n_err,
       n_err * trail_total > 2 * trail_err * n_total AS is_anomaly
FROM trailed WHERE trail_total IS NOT NULL
"""


def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) per purchasing user — the
    canonical customer-value rollup. Recency is whole days from the
    user's last purchase to the stream's anchor (its max event time),
    so the result is reproducible from the data alone; monetary uses
    the decimal-exact sum convention.

    Scale: ONE aggregate over purchases (map-side partials) plus a
    1-row anchor aggregate broadcast in — no window, no second scan
    of the full stream (the anchor scan reads only ``ts``)."""
    ev = t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("anchor_ts"))
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.to_date("anchor_ts"), F.to_date("last_ts"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )


ORACLE_RFM = """
WITH anchor AS (SELECT max(ts) AS anchor_ts FROM events)
SELECT user_id,
       CAST(datediff('day', CAST(last_ts AS DATE), CAST(anchor_ts AS DATE)) AS BIGINT) AS recency_days,
       frequency, monetary
FROM (
  SELECT user_id, max(ts) AS last_ts, COUNT(*) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
) CROSS JOIN anchor
"""


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common 3-step event paths (sequence mining lite):
    two lead()s over each user's total-ordered history form the path
    string, one aggregate counts them, and the top-k is a global
    TakeOrderedAndProject with a deterministic (count DESC, path)
    tie-break. Shuffle: the lead window on user_id, then partial-
    aggregated path counts — |event_types|³ distinct paths at most."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # a path is only countable when all THREE steps are named:
    # concat_ws silently skips a NULL middle step ("a>c") while the
    # oracle's || yields NULL — masking any NULL-step window keeps the
    # engines identical and the user's sequence intact
    return (
        ev.select(
            F.concat_ws(
                ">",
                "event_type",
                F.lead("event_type", 1).over(w),
                F.lead("event_type", 2).over(w),
            ).alias("path"),
            (
                F.col("event_type").isNotNull()
                & F.lead("event_type", 1).over(w).isNotNull()
                & F.lead("event_type", 2).over(w).isNotNull()
            ).alias("_ok"),
        )
        .where(F.col("_ok"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


ORACLE_TOP_PATHS = """
SELECT path, COUNT(*) AS n
FROM (
  SELECT event_type || '>' ||
         lead(event_type, 1) OVER w || '>' ||
         lead(event_type, 2) OVER w AS path,
         event_type IS NOT NULL
           AND lead(event_type, 1) OVER w IS NOT NULL
           AND lead(event_type, 2) OVER w IS NOT NULL AS ok
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE ok
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
"""


ATTRIB_LOOKBACK_S = 3 * 86_400  # touch lookback window


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase credited to the FIRST
    and LAST touch event (view/click) of the same user within a 3-day
    lookback — the two canonical attribution models, emitted together.

    Scale shape: single scan, ONE user_id shuffle — both models are
    first/last(ignorenulls) over a RANGE frame keyed on epoch-micros,
    so no self-join of purchases against touches exists in the plan
    (the range-join formulation costs a second events scan plus a
    pair-explosion). Determinism: (user_id, ts) is unique in the
    testdata (asserted by the oracle gate); with duplicate timestamps
    the frame boundary rows would need an event_id micro-key folded
    into the RANGE ordering."""
    ev = t(spark, sf_dir, "events")
    k = F.unix_micros("ts")
    tid = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_id")
    )
    base = ev.select(
        "user_id", "event_id", "event_type", "value", k.alias("k"), tid.alias("tid")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rangeBetween(-ATTRIB_LOOKBACK_S * 1_000_000, 0)
    )
    return (
        base.withColumn("first_touch", F.first("tid", ignorenulls=True).over(w))
        .withColumn("last_touch", F.last("tid", ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "first_touch",
            "last_touch",
            "value",
        )
        .orderBy("purchase_id")
    )


ORACLE_ATTRIBUTION = f"""
SELECT user_id, event_id AS purchase_id, first_touch, last_touch, value
FROM (
  SELECT user_id, event_id, event_type, value,
         first_value(CASE WHEN event_type IN ('view','click') THEN event_id END IGNORE NULLS)
           OVER w AS first_touch,
         last_value(CASE WHEN event_type IN ('view','click') THEN event_id END IGNORE NULLS)
           OVER w AS last_touch
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {ATTRIB_LOOKBACK_S * 1_000_000} PRECEDING AND CURRENT ROW)
)
WHERE event_type = 'purchase'
ORDER BY purchase_id
"""


RESAMPLE_USER_MOD = 100  # bound the demo to every 100th user


def events_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resampling: per user, the event count for
    EVERY hour between their first and last activity — including the
    empty hours a plain groupBy silently drops. The standard
    time-series densification before rate/anomaly models (a missing
    hour and an unobserved hour are different signals).

    Scale shape: one groupBy(user) for the activity span, then the
    hour spine is generated IN-ROW (``sequence`` + explode — span-
    bounded by the calendar, never by event count) and left-joined
    back to the per-hour counts on (user, hour) — both sides already
    reduced, so the join is aggregate-sized. No driver-side calendar,
    no cross join against a global spine (which would be |users| ×
    |all hours| instead of Σ per-user spans)."""
    ev = t(spark, sf_dir, "events").where(
        F.col("user_id") % RESAMPLE_USER_MOD == 0
    )
    hour = F.date_trunc("hour", F.col("ts"))
    per_hour = ev.groupBy(
        "user_id", hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    return (
        spine.join(per_hour, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "hour")
    )


ORACLE_RESAMPLE = f"""
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS h
  FROM events WHERE user_id % {RESAMPLE_USER_MOD} = 0
), per_hour AS (
  SELECT user_id, h, COUNT(*) AS n_events FROM ev GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM spans
)
SELECT s.user_id, s.h AS hour,
       CAST(COALESCE(p.n_events, 0) AS BIGINT) AS n_events
FROM spine s LEFT JOIN per_hour p ON s.user_id = p.user_id AND s.h = p.h
ORDER BY s.user_id, hour
"""


def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU and rolling 7-day WAU (distinct users active in the
    trailing week) — the canonical engagement health metric. Distinct
    counts can't ride a plain window frame (COUNT(DISTINCT) OVER a
    range is unsupported and wrong under re-visits), so the standard
    distributed form is used: dedupe to (user, day) pairs FIRST, then
    a bounded range join fans each pair to the ≤7 window days it
    serves, and the distinct-count happens per window day.

    Scale shape: the dedupe is one hash agg with map-side partials
    (output bounded by users × days, not events); the fan-out is
    exactly 7× on the already-tiny pair set; the final agg shuffles on
    day. No event-grain shuffle anywhere — at 100 TB the pair table is
    the only thing that moves.
    """
    pairs = (
        t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .persist()  # one scan+dedupe feeds spine, DAU and the fan-out
    )
    spine = pairs.select("day").distinct()
    wau = (
        spine.alias("d")
        .join(
            pairs.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("p.user_id").cast("long").alias("wau7"))
    )
    dau = pairs.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    return (
        dau.join(wau, "day")
        .select(F.col("day").cast("string").alias("day"), "dau", "wau7")
        .orderBy("day")
    )


ORACLE_ROLLING_WAU = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), spine AS (
  SELECT DISTINCT day FROM pairs
), wau AS (
  SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau7
  FROM spine d JOIN pairs p
    ON p.day <= d.day AND p.day >= d.day - INTERVAL 6 DAY
  GROUP BY d.day
), dau AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM pairs GROUP BY day
)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau7
FROM dau JOIN wau USING (day)
ORDER BY day
"""


def events_interarrival_stats(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Per-type inter-arrival-time distribution (exact p50/p90/p99 in
    integer microseconds) — the event-rate health readout that feeds
    watermark sizing (streaming/windows.py) and anomaly thresholds: a
    p99 gap tells you how late "normal" can be before it's an outage.

    Gaps are int64 microsecond diffs of (ts, event_id)-ordered rows;
    the percentile is PERCENTILE_DISC at 1-based rank
    ``(p·n + 99) DIV 100`` (events_value_percentiles convention) —
    everything integer end to end, no float anywhere.

    Scale shape (round-7 swap of the per-type raw-row windows): the
    adjacent-diff runs inside HOURLY time buckets — the sort window is
    partitioned by (event_type, hour), so a task holds one type-hour
    of events, never a type's whole history — and the one gap each
    bucket boundary hides is stitched exactly: the per-bucket last
    timestamp (a grid-sized agg) lags over the |types|·|hours| bucket
    spine and joins back to each bucket's first row. Cross-bucket
    ordering is strictly by timestamp (same-``us`` ties share a
    bucket by construction), so the stitched gap multiset is
    bit-identical to the single-sort form. The rank walk then runs on
    the (type, gap) count grid — windows over |distinct gaps|, not
    |events| (events_robust_outliers convention)."""
    bucket_us = 3_600_000_000  # 1 h; the task-size knob at 100 TB
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    evb = ev.withColumn("bkt", F.expr(f"us DIV {bucket_us}"))
    w_in = Window.partitionBy("event_type", "bkt").orderBy("us", "event_id")
    with_lag = evb.withColumn("prev_us", F.lag("us").over(w_in))
    lasts_src = evb
    if materialize:
        # with_lag feeds three consumers (in-bucket gaps, the stitch
        # probe, and — via the same rows — the per-bucket lasts).
        # `materialize=False` keeps the lazy plan for the plan pins
        # (tests/test_plans.py windowspec assert).
        with_lag = with_lag.persist()
        lasts_src = with_lag
    in_gaps = with_lag.where(F.col("prev_us").isNotNull()).select(
        "event_type", (F.col("us") - F.col("prev_us")).alias("gap")
    )
    lasts = lasts_src.groupBy("event_type", "bkt").agg(
        F.max(F.struct("us", "event_id")).alias("last")
    )
    w_b = Window.partitionBy("event_type").orderBy("bkt")
    prevs = lasts.withColumn(
        "prev_last_us", F.lag("last.us").over(w_b)
    ).select("event_type", "bkt", "prev_last_us")
    # NULL-SAFE on event_type: a NULL type is a legitimate group (both
    # engines window/group it), and a SPARSE type's gaps are almost all
    # cross-bucket stitches — a plain equi-join would silently drop
    # every one of them (caught by the null-robustness suite)
    prevs2 = prevs.select(
        F.col("event_type").alias("p_et"),
        F.col("bkt").alias("p_bkt"),
        "prev_last_us",
    )
    stitch_gaps = (
        with_lag.where(F.col("prev_us").isNull())
        .join(
            F.broadcast(prevs2),
            F.col("event_type").eqNullSafe(F.col("p_et"))
            & (F.col("bkt") == F.col("p_bkt")),
        )
        .where(F.col("prev_last_us").isNotNull())
        .select("event_type", (F.col("us") - F.col("prev_last_us")).alias("gap"))
    )
    gaps = in_gaps.unionByName(stitch_gaps)
    grid = gaps.groupBy("event_type", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    pick = lambda p: F.min(
        F.when(F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("gap"))
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            pick(50).cast("long").alias("p50_us"),
            pick(90).cast("long").alias("p90_us"),
            pick(99).cast("long").alias("p99_us"),
            F.max("gap").cast("long").alias("max_us"),
        )
        .orderBy("event_type")
    )


ORACLE_INTERARRIVAL = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS gap
  FROM events
), gaps AS (
  SELECT event_type, CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL
), r AS (
  SELECT event_type, gap,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM gaps
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN gap END) AS BIGINT) AS p50_us,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN gap END) AS BIGINT) AS p90_us,
       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN gap END) AS BIGINT) AS p99_us,
       CAST(MAX(gap) AS BIGINT) AS max_us
FROM r
GROUP BY event_type
ORDER BY event_type
"""


def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    'purchase' follows their first 'view', the lag in whole seconds —
    reported as exact rank percentiles (events_value_percentiles
    convention). The funnel's missing time axis: events_funnel says
    HOW MANY convert, this says HOW LONG they take.

    Shape: one user-keyed agg folds each user to two timestamps
    (map-side partials, conditional min — no self-join of the event
    table), then the count-grid rank walk (round-7 swap of the global
    raw-row window): lags reduce to the (lag_s → count) grid and the
    percentile crossings read the cumulative grid — the only
    unpartitioned window runs over |distinct whole-second lags|
    (bounded by the observation span in seconds), never |users|.
    Integer microseconds → DIV to seconds, all int64; identical values
    to the raw rank walk since the crossing picks the value at the
    target rank and the user_id tie-break never changed the value."""
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
    grid = lags.groupBy("lag_s").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("lag_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = grid.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy())
    )
    pick = lambda p: F.min(
        F.when(F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("lag_s"))
    )
    return c.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("lag_s").cast("long").alias("min_s"),
        pick(50).cast("long").alias("p50_s"),
        pick(90).cast("long").alias("p90_s"),
        pick(99).cast("long").alias("p99_s"),
        F.max("lag_s").cast("long").alias("max_s"),
    )


ORACLE_CONVERSION_LAG = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
), lags AS (
  SELECT user_id, CAST((fp - fv) // 1000000 AS BIGINT) AS lag_s
  FROM firsts
  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
), r AS (
  SELECT lag_s,
         ROW_NUMBER() OVER (ORDER BY lag_s, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lags
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(lag_s) AS BIGINT) AS min_s,
       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN lag_s END) AS BIGINT) AS p50_s,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN lag_s END) AS BIGINT) AS p90_s,
       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN lag_s END) AS BIGINT) AS p99_s,
       CAST(MAX(lag_s) AS BIGINT) AS max_s
FROM r
"""


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY growth accounting (the Social-Capital "accounting for
    user growth" decomposition): each week's active users split into
    NEW (first-ever active week), RETAINED (also active the previous
    week) and RESURRECTED (active before, but not last week), plus
    CHURNED = last week's actives who did not return — the standard
    WAU health readout that tells growth-from-acquisition apart from
    growth-from-reactivation. Completes events_retention (cohort decay
    curves) with the week-over-week flow view. Weeks are absolute
    epoch-day ÷ 7 indices (calendar-agnostic, TZ pinned by common.t).

    Identity used for churn (exact, no extra scan): churned_w =
    n_active_{w-1} − n_retained_w, guarded to 0 across calendar gaps
    (lag week must be w−1; a gap means nobody was active to churn).

    Scale shape: events reduce ONCE to distinct (user, week) pairs —
    a map-side-combined aggregate bounded by users × weeks; the
    classification lag runs per USER (high-cardinality partitioning,
    one task never holds more than one user's weeks); weekly rollup
    is a grid aggregate and the churn lag window walks the WEEK GRID
    only."""
    ev = t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        F.expr("unix_date(to_date(ts)) DIV 7").cast("long").alias("m"),
    ).distinct()
    w_u = Window.partitionBy("user_id").orderBy("m")
    classed = pairs.withColumn("prev_m", F.lag("m").over(w_u)).withColumn(
        "cls",
        F.when(F.col("prev_m").isNull(), F.lit("new"))
        .when(F.col("prev_m") == F.col("m") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected")),
    )
    monthly = classed.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.when(F.col("cls") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    w_m = Window.orderBy("m")  # month grid — never raw rows
    return (
        monthly.withColumn("lag_m", F.lag("m").over(w_m))
        .withColumn("lag_active", F.lag("n_active").over(w_m))
        .withColumn(
            "n_churned",
            (
                F.when(
                    F.col("lag_m") == F.col("m") - 1, F.col("lag_active")
                ).otherwise(F.lit(0))
                - F.col("n_retained")
            ).cast("long"),
        )
        .select(
            "m",
            F.date_add(
                F.to_date(F.lit("1970-01-01")), (F.col("m") * 7).cast("int")
            ).cast("string").alias("wk_start"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned",
        )
        .orderBy("m")
    )


ORACLE_GROWTH = """
WITH pairs AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS m
  FROM events
), classed AS (
  SELECT m,
         CASE WHEN prev_m IS NULL THEN 'new'
              WHEN prev_m = m - 1 THEN 'retained'
              ELSE 'resurrected' END AS cls
  FROM (SELECT user_id, m,
               LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
        FROM pairs)
), monthly AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM classed GROUP BY m
)
SELECT m,
       CAST(DATE '1970-01-01' + CAST(m * 7 AS INT) AS VARCHAR) AS wk_start,
       n_active, n_new, n_retained, n_resurrected,
       CAST(CASE WHEN LAG(m) OVER (ORDER BY m) = m - 1
                 THEN LAG(n_active) OVER (ORDER BY m) ELSE 0 END
            - n_retained AS BIGINT) AS n_churned
FROM monthly
ORDER BY m
"""


def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity profile: events, distinct
    users and share of total traffic per (dow, hour) cell — the
    seasonality matrix capacity planning and anomaly baselines read
    (a spike is only a spike relative to its weekday-hour cell).

    dow is 0 = Sunday in BOTH engines (Spark dayofweek()−1, DuckDB
    date_part('dow')); UTC extraction via common.t's session pin.

    Scale shape: one map-side-combined aggregate onto the ≤ 7×24 cell
    grid (the distinct-user term expands per cell but stays one hash
    agg); the share window spans the 168-row grid. Nothing else
    moves."""
    ev = t(spark, sf_dir, "events")
    g = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
            "user_id",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    total = F.sum("n_events").over(Window.partitionBy())  # 168-row grid
    return (
        g.withColumn(
            "share", F.col("n_events").cast("double") / total.cast("double")
        )
        .orderBy("dow", "hod")
    )


ORACLE_SEASONALITY = """
WITH g AS (
  SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow,
         CAST(date_part('hour', ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1, 2
)
SELECT dow, hod, n_events, n_users,
       CAST(n_events AS DOUBLE) / CAST(SUM(n_events) OVER () AS DOUBLE) AS share
FROM g
ORDER BY dow, hod
"""


def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout under the engine's deterministic
    hash-assignment coin: users split into variants 0/1 by
    common.md5_bucket (the same portable md5 coin split_train_eval
    and per_source_cap use, so assignment is reproducible across
    engines and runs); per variant — population, events, converters
    (users with ≥ 1 purchase), conversion rate, purchase count and
    exact-decimal average purchase value. The uniformity of the coin
    makes variant 0 the control twin of variant 1: any metric gap is
    the experiment's read (here a calibration baseline — both
    variants see identical traffic).

    Scale shape: ONE hash aggregate onto 2 variant rows; the distinct
    terms (users, converters) ride Spark's distinct-aggregate expand
    with map-side partials — no joins, no windows, no per-user
    intermediate table. Rates follow the single-division convention;
    value sums are decimal-exact (common.m)."""
    ev = t(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    assigned = ev.withColumn(
        "variant", md5_bucket(F.col("user_id").cast("string"), 2)
    )
    g = assigned.groupBy("variant").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(F.when(is_purchase, F.col("user_id")))
        .cast("long")
        .alias("n_converted"),
        F.sum(F.when(is_purchase, 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.count(F.when(is_purchase, F.col("value"))).cast("long").alias("n_valued"),
        F.sum(F.when(is_purchase, m("value"))).alias("vsum"),
    )
    return g.select(
        "variant",
        "n_users",
        "n_events",
        "n_converted",
        F.when(
            F.col("n_users") > 0,
            F.col("n_converted").cast("double") / F.col("n_users"),
        )
        .otherwise(F.lit(0.0))
        .alias("conv_rate"),
        "n_purchases",
        F.when(
            F.col("n_valued") > 0,
            F.col("vsum").cast("double") / F.col("n_valued"),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_purchase_value"),
    ).orderBy("variant")


ORACLE_AB_LIFT = """
WITH g AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS variant,
         user_id, event_type, value
  FROM events
), agg AS (
  SELECT variant,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_converted,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS BIGINT) AS n_valued,
         SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS vsum
  FROM g GROUP BY variant
)
SELECT CAST(variant AS BIGINT) AS variant, n_users, n_events, n_converted,
       CASE WHEN n_users > 0 THEN CAST(n_converted AS DOUBLE) / n_users ELSE 0.0 END AS conv_rate,
       n_purchases,
       CASE WHEN n_valued > 0 THEN CAST(vsum AS DOUBLE) / n_valued ELSE 0.0 END AS avg_purchase_value
FROM agg
ORDER BY variant
"""


QUERIES = {
    "events_rolling_wau": events_rolling_wau,
    "events_interarrival_stats": events_interarrival_stats,
    "events_conversion_lag": events_conversion_lag,
    "events_attribution": events_attribution,
    "events_resample_hourly": events_resample_hourly,
    "events_funnel": events_funnel,
    "events_error_anomaly": events_error_anomaly,
    "events_rfm": events_rfm,
    "events_top_paths": events_top_paths,
    "events_transitions": events_transitions,
    "events_retention": events_retention,
    "events_growth_accounting": events_growth_accounting,
    "events_hourly_seasonality": events_hourly_seasonality,
    "events_ab_lift": events_ab_lift,
}

ORACLES = {
    "events_rolling_wau": ORACLE_ROLLING_WAU,
    "events_interarrival_stats": ORACLE_INTERARRIVAL,
    "events_conversion_lag": ORACLE_CONVERSION_LAG,
    "events_attribution": ORACLE_ATTRIBUTION,
    "events_resample_hourly": ORACLE_RESAMPLE,
    "events_funnel": ORACLE_FUNNEL,
    "events_error_anomaly": ORACLE_ERROR_ANOMALY,
    "events_rfm": ORACLE_RFM,
    "events_top_paths": ORACLE_TOP_PATHS,
    "events_transitions": ORACLE_TRANSITIONS,
    "events_retention": ORACLE_RETENTION,
    "events_growth_accounting": ORACLE_GROWTH,
    "events_hourly_seasonality": ORACLE_SEASONALITY,
    "events_ab_lift": ORACLE_AB_LIFT,
}


# --- Distribution drift monitor (total-variation distance) ------------

def events_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution drift of `value` between a
    reference period (first half of January) and the current period
    (second half), measured as total-variation distance over fixed
    50-unit value bins:

        TV = 1/2 · Σ_b |a_b/A − b_b/B|
           = Σ_b |a_b·B − b_b·A| / (2·A·B)

    TV is the drift metric that stays EXACT in integer arithmetic
    (PSI/KL need logarithms): the output is milli-TV via one cross-
    multiplied floor division, byte-identical to the oracle. This is
    the scheduled data-quality job that pages you when a source's
    value distribution shifts.

    Scale shape: one events scan → conditional-count aggregate on
    (event_type, bucket) (map-side combined; bins are bounded so the
    aggregate is tiny) → per-type totals joined back broadcast-sized →
    one more bounded aggregate. Values bin by EXACT centi-integers
    (decimal cast), so bucket boundaries don't depend on float
    division in either engine.
    """
    ev = t(spark, sf_dir, "events")
    bucket = centi_band("value", 5000)
    is_ref = F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")
    bins = (
        ev.select("event_type", bucket.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("b"),
        )
    )
    tot = bins.groupBy("event_type").agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    return (
        bins.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("ta").cast("long").alias("n_ref"),
            F.max("tb").cast("long").alias("n_cur"),
            F.sum(F.abs(F.col("a") * F.col("tb") - F.col("b") * F.col("ta"))).alias("num"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.expr("(1000 * num) DIV (2 * n_ref * n_cur)").cast("long").alias("tv_milli"),
        )
        .orderBy("event_type")
    )


ORACLE_DRIFT_TV = """
WITH bins AS (
  SELECT event_type,
         {O_BUCKET} AS bucket,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END) AS b
  FROM events
  GROUP BY 1, 2
), tot AS (
  SELECT event_type, SUM(a) AS ta, SUM(b) AS tb FROM bins GROUP BY 1
)
SELECT bins.event_type,
       CAST(MAX(tot.ta) AS BIGINT) AS n_ref,
       CAST(MAX(tot.tb) AS BIGINT) AS n_cur,
       CAST((1000 * SUM(ABS(bins.a * tot.tb - bins.b * tot.ta)))
            // (2 * MAX(tot.ta) * MAX(tot.tb)) AS BIGINT) AS tv_milli
FROM bins JOIN tot ON bins.event_type = tot.event_type
GROUP BY bins.event_type
ORDER BY bins.event_type
""".replace("{O_BUCKET}", o_centi_band("value", 5000))


QUERIES["events_drift_tv"] = events_drift_tv
ORACLES["events_drift_tv"] = ORACLE_DRIFT_TV


# --- two-sample Kolmogorov–Smirnov drift (continuous, bin-free) -------

def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KS statistic of the ``value`` distribution vs
    the pooled corpus: sup |F_type(v) − F_all(v)|.

    The binned TV monitor above answers "how different" on a fixed
    grid; KS is its bin-free companion — sensitive to location shifts
    a coarse grid can hide. The sup over step functions is attained at
    jump points, so it suffices to evaluate both CDFs on the distinct
    global value grid × the (tiny, broadcast) type list.

    Exactness: the comparison is done on cross-multiplied integers
    (|cum_t·n_all − cum_all·n_t|); only the final division is a single
    IEEE double op, so Spark and DuckDB agree bit-for-bit. Products
    stay < 2⁵³ up to ~10⁸ events per side; beyond that, pre-bin to
    centi-bands first (events_drift_tv) or promote to decimal.

    Scale shape: one corpus shuffle for the (value, type) counts; the
    grid is |distinct values| × |types| (types is a handful — the
    cross join is a broadcast), and the cumulative sums are windows
    partitioned by type over that aggregate, never over raw events.
    The per-type partitions are sequential within the window — with
    billions of distinct values, range-partitioned two-phase prefix
    sums replace the window; at any realistic value-grid size this is
    vocabulary-scale work.

    NULL ``value`` rows are dropped up front on BOTH engines: Spark
    windows sort NULLS FIRST while DuckDB sorts NULLS LAST, and the
    grid left-join treats a NULL key asymmetrically, so a single NULL
    would silently diverge the cumulative CDFs between engines. NULL
    ``event_type`` rows are dropped too: a NULL type still enters the
    DISTINCT type list but can never equi-join its own per-type counts
    back, leaving an all-zero CDF whose n_t = 0 divides by zero."""
    ev = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    pertype = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vtot = pertype.groupBy("value").agg(F.sum("cnt").alias("tv"))
    types = ev.select("event_type").distinct()
    g = (
        vtot.crossJoin(F.broadcast(types))
        .join(pertype, ["value", "event_type"], "left")
        .withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_part = Window.partitionBy("event_type")
    scored = (
        g.withColumn("cum_t", F.sum("cnt0").over(w_cum))
        .withColumn("cum_all", F.sum("tv").over(w_cum))
        .withColumn("n_t", F.sum("cnt0").over(w_part))
        .withColumn("n_all", F.sum("tv").over(w_part))
        .withColumn(
            "diff",
            F.abs(F.col("cum_t") * F.col("n_all") - F.col("cum_all") * F.col("n_t")),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("diff").alias("maxdiff"),
            F.max("n_t").alias("n_t"),
            F.max("n_all").alias("n_all"),
        )
        .select(
            "event_type",
            F.col("n_t").cast("long").alias("n_events"),
            (
                F.col("maxdiff").cast("double")
                / (F.col("n_t") * F.col("n_all")).cast("double")
            ).alias("ks"),
        )
        .orderBy("event_type")
    )


ORACLE_KS_DRIFT = """
WITH ev AS (
  SELECT value, event_type FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), pertype AS (
  SELECT value, event_type, COUNT(*) AS cnt FROM ev GROUP BY 1, 2
), vtot AS (
  SELECT value, SUM(cnt) AS tv FROM pertype GROUP BY 1
), types AS (
  SELECT DISTINCT event_type FROM ev
), g AS (
  SELECT v.value, ty.event_type,
         CAST(COALESCE(p.cnt, 0) AS BIGINT) AS cnt0,
         CAST(v.tv AS BIGINT) AS tv
  FROM vtot v CROSS JOIN types ty
  LEFT JOIN pertype p ON p.value = v.value AND p.event_type = ty.event_type
), c AS (
  SELECT event_type,
         SUM(cnt0) OVER (PARTITION BY event_type ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
         SUM(tv) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all,
         SUM(cnt0) OVER (PARTITION BY event_type) AS n_t,
         SUM(tv) OVER (PARTITION BY event_type) AS n_all
  FROM g
)
SELECT event_type,
       CAST(MAX(n_t) AS BIGINT) AS n_events,
       CAST(MAX(ABS(cum_t * n_all - cum_all * n_t)) AS DOUBLE)
         / CAST(MAX(n_t) * MAX(n_all) AS DOUBLE) AS ks
FROM c
GROUP BY event_type
ORDER BY event_type
"""


QUERIES["events_ks_drift"] = events_ks_drift
ORACLES["events_ks_drift"] = ORACLE_KS_DRIFT


# --- robust outlier cut: integer-exact median/MAD --------------------

def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier accounting: median and MAD
    (median absolute deviation) of ``value``, and how many events sit
    outside median ± 3·MAD — the robust z-score cut a mean/stddev
    filter gets wrong the moment the tail it should remove drags the
    mean toward itself.

    Everything is integer-exact: values become centi-integers (the
    shared drift-monitor conversion), the median is carried DOUBLED
    (``med2`` = sum of the two middle order statistics — one exact
    BIGINT whether n is odd or even), the MAD doubles again (``mad4``),
    and the cut |v−med| > 3·MAD compares as ``2·dev2 > 3·mad4`` — no
    float appears anywhere, so Spark and DuckDB agree byte-for-byte
    (interpolated percentile_cont/median would differ in the last ulp
    between engines).

    Scale shape: raw events reduce ONCE to the (type, centi-value)
    grid with map-side partials; both median passes are weighted order
    statistics on that grid — cumulative window sums + a conditional
    MIN at the (n+k) DIV 2 crossing — and the per-type med/MAD tables
    broadcast back. Nothing after the first aggregate touches event
    rows.

    NULL ``value`` rows are dropped up front on BOTH engines (same
    rationale as events_ks_drift: NULLS FIRST vs NULLS LAST window
    ordering would shift every order statistic)."""
    ev = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vc = F.expr("CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)")
    agg = (
        ev.select("event_type", vc.alias("v_c"))
        .groupBy("event_type", "v_c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()  # the grid feeds three branches (median,
        # MAD, outlier count) — materialize once so the corpus-sized
        # scan+reduce is paid once, not per branch (same rule as the
        # iterative operators' loop-invariant materialization)
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = agg.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    med = c.groupBy("event_type").agg(
        (
            F.min(F.expr("CASE WHEN cum >= (n + 1) DIV 2 THEN v_c END"))
            + F.min(F.expr("CASE WHEN cum >= (n + 2) DIV 2 THEN v_c END"))
        ).alias("med2"),
        F.max("n").alias("n"),
    )
    dev = agg.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(F.lit(2) * F.col("v_c") - F.col("med2"))
    )
    w_dcum = (
        Window.partitionBy("event_type")
        .orderBy("dev2", "v_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = dev.withColumn("dcum", F.sum("cnt").over(w_dcum))
    mad = d.groupBy("event_type").agg(
        (
            F.min(F.expr("CASE WHEN dcum >= (n + 1) DIV 2 THEN dev2 END"))
            + F.min(F.expr("CASE WHEN dcum >= (n + 2) DIV 2 THEN dev2 END"))
        ).alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max("med2").cast("long").alias("med2_centi"),
            F.max("mad4").cast("long").alias("mad4_centi"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_O_VC = "CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)"

ORACLE_ROBUST = f"""
WITH agg AS (
  SELECT event_type, {_O_VC} AS v_c, COUNT(*) AS cnt FROM events
  WHERE value IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_c
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM agg
), med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN v_c END)
           + MIN(CASE WHEN cum >= (n + 2) // 2 THEN v_c END) AS med2,
         MAX(n) AS n
  FROM c GROUP BY 1
), dev AS (
  SELECT agg.event_type, agg.v_c, agg.cnt, med.n, med.med2,
         ABS(2 * agg.v_c - med.med2) AS dev2
  FROM agg JOIN med USING (event_type)
), d AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev2, v_c
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum
  FROM dev
), mad AS (
  SELECT event_type,
         MIN(CASE WHEN dcum >= (n + 1) // 2 THEN dev2 END)
           + MIN(CASE WHEN dcum >= (n + 2) // 2 THEN dev2 END) AS mad4
  FROM d GROUP BY 1
)
SELECT dev.event_type,
       CAST(MAX(dev.n) AS BIGINT) AS n_events,
       CAST(MAX(dev.med2) AS BIGINT) AS med2_centi,
       CAST(MAX(mad.mad4) AS BIGINT) AS mad4_centi,
       CAST(SUM(CASE WHEN 2 * dev.dev2 > 3 * mad.mad4 THEN dev.cnt ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY 1
ORDER BY 1
"""


QUERIES["events_robust_outliers"] = events_robust_outliers
ORACLES["events_robust_outliers"] = ORACLE_ROBUST


# --- recency-decayed engagement (integer-exact half-life) -------------

def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with exponential recency decay
    (half-life = 7 days): Σ value · 2^(−weeks_old) — the standard
    feature-engineering companion to the point-in-time matrix
    (feature_matrix_pit), where yesterday's purchase should count
    double next week's nothing.

    Integer-exact: values become centi-integers, the decay weight is a
    POWER OF TWO carried as a bit shift — ``v_c << (10 − weeks_old)``
    at scale 2¹⁰ — so no float pow/exp appears and the DuckDB oracle
    matches byte-for-byte (2^(−age/7) via exp/ln would drift in the
    last ulp). Weeks beyond 10 clamp to weight 1 (the smallest
    representable step at this scale; ≈ 0.1% of a fresh event).

    Scale shape: one scalar aggregate for "now" (max event date,
    broadcast as a 1-row crossJoin literal — the anchor must be data-
    derived so the score is reproducible), then ONE map-side-combined
    aggregate shuffling on user_id. Nothing else."""
    ev = t(spark, sf_dir, "events")
    now = ev.agg(F.max(F.to_date("ts")).alias("now"))
    vc = F.expr("CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)")
    aged = ev.crossJoin(F.broadcast(now)).select(
        "user_id",
        vc.alias("v_c"),
        F.least(
            F.expr("datediff(now, to_date(ts)) DIV 7").cast("long"), F.lit(10)
        ).alias("wk"),
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.expr("shiftleft(v_c, CAST(10 - wk AS INT))"))
            .cast("long")
            .alias("score_scaled"),
        )
        .orderBy("user_id")
    )


ORACLE_DECAYED = f"""
WITH now_t AS (
  SELECT MAX(CAST(ts AS DATE)) AS now FROM events
), aged AS (
  SELECT user_id,
         {_O_VC} AS v_c,
         LEAST(CAST(datediff('day', CAST(ts AS DATE), now_t.now) // 7 AS BIGINT), 10) AS wk
  FROM events CROSS JOIN now_t
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v_c * (1::BIGINT << CAST(10 - wk AS INTEGER))) AS BIGINT) AS score_scaled
FROM aged
GROUP BY user_id
ORDER BY user_id
"""


QUERIES["events_decayed_engagement"] = events_decayed_engagement
ORACLES["events_decayed_engagement"] = ORACLE_DECAYED


# --- batch gap sessionization (the streaming sessionizers' twin) ------

SESSION_GAP_MICROS = 30 * 60 * 1_000_000  # 30 minutes


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch lag-gap sessionization: per user, a new session starts
    whenever the gap to the previous event exceeds 30 minutes. THE
    batch twin of both streaming sessionizers
    (streaming/stateful.py applyInPandasWithState and
    streaming/tws.py SessionizerTws, whose differential tests assert
    equality against exactly this rule) — promoting it to a catalog
    entry puts the rule itself under the driver's oracle hash.
    Complements `win_sessionize` (analytic.py), which folds the same
    rule into per-USER session counts; this entry emits the SESSION
    rows themselves (boundaries, size, duration).

    Exactness: boundaries and durations in integer epoch micros;
    (ts, event_id) tie-break fixes the lag order under duplicate
    timestamps.

    Scale shape: ONE shuffle on user_id serves the lag window, the
    running session-id sum, and the final per-session aggregate (all
    partitioned the same way); no joins.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_u")
    )
    w = Window.partitionBy("user_id").orderBy("ts_u", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.col("ts_u") - F.lag("ts_u").over(w) > SESSION_GAP_MICROS, 1
        ).otherwise(0),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts_u").alias("session_start_micro"),
            F.max("ts_u").alias("session_end_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "session_start_micro",
            "session_end_micro",
            F.col("n_events").cast("long").alias("n_events"),
            ((F.col("session_end_micro") - F.col("session_start_micro")) / F.lit(1_000_000))
            .cast("long")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "session_start_micro")
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_u,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts_u,
         SUM(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts_u, event_id
             ROWS UNBOUNDED PRECEDING
         ) AS sess_id
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ts_u) AS BIGINT) AS session_start_micro,
       CAST(MAX(ts_u) AS BIGINT) AS session_end_micro,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST((MAX(ts_u) - MIN(ts_u)) // 1000000 AS BIGINT) AS duration_sec
FROM numbered
GROUP BY user_id, sess_id
ORDER BY user_id, session_start_micro
"""


QUERIES["events_sessionize"] = events_sessionize
ORACLES["events_sessionize"] = ORACLE_SESSIONIZE


# --- session concurrency (scale-aware sweep line) ---------------------

_DAY_MICROS = 86_400 * 1_000_000


def events_session_concurrency(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Max concurrent sessions per day — the sweep-line computation
    (+1 at session start, −1 at session end, running sum) that naive
    implementations run as ONE global sort. Here it is the two-phase
    scale shape: per-DAY partitioned running sums plus a cross-day
    carry-in computed on the days-sized aggregate (broadcast back), so
    no single-partition sort over all boundaries ever exists and the
    plan survives any timeline length.

    Tie convention (mirrored in the oracle): at equal timestamps,
    starts count before ends (ORDER BY t, delta DESC) — a session
    ending exactly when another starts overlaps it; within a tie group
    all deltas are equal, so the per-day MAX is order-invariant.
    """
    sessions = events_sessionize(spark, sf_dir)
    if materialize:
        # the start/end union plus the two bounds consumers otherwise
        # rebuild the whole sessionize chain (events scan + user_id
        # sort window ×2) FOUR times. The sessions table is |sessions|
        # rows of four longs, far smaller than the event log it
        # summarizes, so the cache is the cheap side of the trade at
        # any scale (guide §2.4/§5).
        sessions = sessions.persist()
    bounds = sessions.select(
        F.col("session_start_micro").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            F.col("session_end_micro").alias("t"), F.lit(-1).alias("delta")
        )
    ).withColumn(
        # integer DIV: same truncate-toward-zero semantics as DuckDB's
        # integer `//` (measured: -1 // 10 = 0 there), and no float
        # precision risk at epoch-micro magnitudes
        "day_idx",
        F.expr(f"t DIV {_DAY_MICROS}"),
    )
    # phase 1: per-day totals → cumulative carry-in over the tiny
    # days-sized table (its window is days-long, not boundaries-long)
    day_totals = bounds.groupBy("day_idx").agg(F.sum("delta").alias("day_delta"))
    wdays = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_totals.select(
        "day_idx",
        F.coalesce(F.sum("day_delta").over(wdays), F.lit(0)).alias("carry_in"),
    )
    # phase 2: intra-day running sum, partitioned by day
    wday = Window.partitionBy("day_idx").orderBy(
        "t", F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    running = (
        bounds.join(F.broadcast(carry), "day_idx")
        .withColumn("conc", F.sum("delta").over(wday) + F.col("carry_in"))
    )
    return (
        running.groupBy("day_idx")
        .agg(F.max("conc").cast("long").alias("max_concurrent"))
        .orderBy("day_idx")
    )


ORACLE_SESSION_CONCURRENCY = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_u,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts_u,
         SUM(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts_u, event_id
             ROWS UNBOUNDED PRECEDING
         ) AS sess_id
  FROM flagged
), sessions AS (
  SELECT MIN(ts_u) AS s, MAX(ts_u) AS e
  FROM numbered GROUP BY user_id, sess_id
), bounds AS (
  SELECT s AS t, 1 AS delta FROM sessions
  UNION ALL
  SELECT e AS t, -1 AS delta FROM sessions
), run AS (
  SELECT t, SUM(delta) OVER (
      ORDER BY t, delta DESC ROWS UNBOUNDED PRECEDING
  ) AS conc
  FROM bounds
)
SELECT CAST(t // 86400000000 AS BIGINT) AS day_idx,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM run GROUP BY 1
ORDER BY day_idx
"""


QUERIES["events_session_concurrency"] = events_session_concurrency
ORACLES["events_session_concurrency"] = ORACLE_SESSION_CONCURRENCY


# --- exact discrete percentiles per event type ------------------------


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p50/p90/p99) of ``value`` per event
    type — the latency-SLO readout every monitoring stack derives from
    event streams. PERCENTILE_DISC semantics, spelled out so both
    engines agree to the byte: the p-th percentile is the value at
    1-based rank ``ceil(p·n/100)`` in (value, event_id) order — the
    integer ceiling is ``(p·n + 99) DIV 100``, and the event_id
    tie-break only stabilizes row ORDER (equal doubles yield the same
    value either way), so the selected value is engine-exact.

    Scale shape (the events_robust_outliers count-grid form, round-7
    swap of the raw-row rank walk): raw events reduce ONCE — with
    map-side partials — to the (event_type, value) count grid; the
    cumulative window and the rank crossing then run over |distinct
    values| grid rows, never |event| rows, so no task ever holds a
    type's full event set. The crossing ``MIN(value WHERE cum ≥ rank)``
    selects exactly the value at the target rank (the grid is ordered
    by value and cum is nondecreasing), so the result is bit-identical
    to the raw rank walk — the event_id tie-break of the reference
    form only stabilized row ORDER among equal values, which the grid
    collapses by construction.
    """
    # NULL values are excluded OUTRIGHT (not ranked): Spark windows
    # default NULLS FIRST, DuckDB NULLS LAST, so a NULL reaching the
    # rank walk silently shifts every percentile — the null-robustness
    # suite caught exactly that
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    grid = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    pick = lambda p: F.min(
        F.when(F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("value"))
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min("value").alias("v_min"),
            pick(50).alias("p50"),
            pick(90).alias("p90"),
            pick(99).alias("p99"),
            F.max("value").alias("v_max"),
        )
        .orderBy("event_type")
    )


ORACLE_VALUE_PERCENTILES = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       MIN(value) AS v_min,
       MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN value END) AS p90,
       MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99,
       MAX(value) AS v_max
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["events_value_percentiles"] = events_value_percentiles
ORACLES["events_value_percentiles"] = ORACLE_VALUE_PERCENTILES


def events_value_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT semantics (linear interpolation) per event type
    — the ANSI companion of events_value_percentiles' PERCENTILE_DISC:
    the p-th percentile sits at 0-based position p·(n−1)/100, and when
    that lands between ranks the value interpolates. Together the two
    entries cover both standard percentile semantics a reference SQL
    user expects.

    Exact-arithmetic form: position decomposes INTEGRALLY — lo-rank =
    (p·(n−1)) DIV 100, remainder f100 = (p·(n−1)) MOD 100 — so the
    interpolation is v_lo + f100·(v_hi − v_lo)/100.0: three IEEE ops
    in the same written order in both engines, bit-exact. Same
    count-grid scale shape as the DISC entry (one map-side-combined
    reduce to the (type, value) grid, windows over |distinct values|);
    CONT just reads TWO crossings — the grid rows bracketing the
    interpolation position — instead of one."""
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    grid = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )

    def pick(p: int):
        lo_rank = F.expr(f"({p} * (n - 1)) DIV 100 + 1")
        hi_rank = F.least(F.expr(f"({p} * (n - 1)) DIV 100 + 2"), F.col("n"))
        v_lo = F.min(F.when(F.col("cum") >= lo_rank, F.col("value")))
        v_hi = F.min(F.when(F.col("cum") >= hi_rank, F.col("value")))
        f_here = F.max(F.expr(f"({p} * (n - 1)) % 100"))
        return v_lo + f_here.cast("double") * (v_hi - v_lo) / F.lit(100.0)

    return (
        c.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            pick(50).alias("p50"),
            pick(90).alias("p90"),
            pick(99).alias("p99"),
        )
        .orderBy("event_type")
    )


ORACLE_VALUE_PERCENTILES_CONT = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
), pct AS (
  SELECT event_type, n,
         MAX(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN value END) AS lo50,
         MAX(CASE WHEN rn = least((50 * (n - 1)) // 100 + 2, n) THEN value END) AS hi50,
         MAX(CASE WHEN rn = (90 * (n - 1)) // 100 + 1 THEN value END) AS lo90,
         MAX(CASE WHEN rn = least((90 * (n - 1)) // 100 + 2, n) THEN value END) AS hi90,
         MAX(CASE WHEN rn = (99 * (n - 1)) // 100 + 1 THEN value END) AS lo99,
         MAX(CASE WHEN rn = least((99 * (n - 1)) // 100 + 2, n) THEN value END) AS hi99
  FROM ranked
  GROUP BY event_type, n
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       lo50 + CAST((50 * (n - 1)) % 100 AS DOUBLE) * (hi50 - lo50) / 100.0 AS p50,
       lo90 + CAST((90 * (n - 1)) % 100 AS DOUBLE) * (hi90 - lo90) / 100.0 AS p90,
       lo99 + CAST((99 * (n - 1)) % 100 AS DOUBLE) * (hi99 - lo99) / 100.0 AS p99
FROM pct
ORDER BY event_type
"""

QUERIES["events_value_percentiles_cont"] = events_value_percentiles_cont
ORACLES["events_value_percentiles_cont"] = ORACLE_VALUE_PERCENTILES_CONT
