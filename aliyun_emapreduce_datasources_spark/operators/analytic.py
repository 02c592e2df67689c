"""Analytic / OLAP operators beyond the corpus: window functions,
CUBE / GROUPING SETS, pivot, distinct-count sketches.

SURVEY.md §2.2 lists these as absent from the reference corpus but
free on Spark — an engine claiming "a user of the reference could
switch" needs them for any ad-hoc analytics workload, and a training-
data pipeline needs sessionization + per-group top-k constantly.

Every window spec here carries a TOTAL ordering (ties broken by a key
column) so results are engine-reproducible; running sums use the
decimal-exact convention of operators/common.py because a windowed sum
is accumulation-ordered by definition.

Scale notes: window functions shuffle once on their partition key —
same cost profile as a groupBy on that key; none of these plans
materialize to the driver. approx_count_distinct is the HLL sketch
path (mergeable, map-side partial) — the 100 TB answer to
count(distinct); its exact twin is kept for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import (
    bucketed_rank,
    dsum,
    m,
    ntile_case,
    o_dsum,
    o_m,
    t,
)

__all__ = ["QUERIES", "ORACLES"]


# --- row_number top-k per group ----------------------------------------

def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price (row_number over a fully
    ordered window — the per-group top-k every ranking pipeline uses)."""
    part = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("rn"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_retailprice").alias("price"),
        )
    )


ORACLE_TOPK = """
SELECT p_brand AS brand, CAST(rn AS BIGINT) AS rn, p_partkey AS partkey, p_retailprice AS price
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
WHERE rn <= 3
"""


# --- running (cumulative) total ----------------------------------------

def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over their order history. The
    frame is ROWS-bounded over a total order (orderdate, orderkey) and
    the sum is exact decimal, so every prefix is engine-identical."""
    orders = t(spark, sf_dir, "orders").where(F.col("o_custkey") % 100 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(m("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


ORACLE_RUNNING = f"""
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(SUM({o_m('o_totalprice')}) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders WHERE o_custkey % 100 = 0
"""


# --- moving average over a row frame -----------------------------------

def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-event moving average of `value` per user (exact-decimal sum /
    frame count, divided once in double)."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        F.col("user_id"),
        F.col("event_id"),
        (F.sum(m("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


ORACLE_MOVAVG = f"""
SELECT user_id, event_id,
       CAST(SUM({o_m('value')}) OVER w AS DOUBLE) / COUNT(*) OVER w AS mov_avg
FROM events WHERE user_id % 50 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# --- lag + gap sessionization ------------------------------------------

SESSION_GAP_MIN = 30


def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic lag-gap sessionization: a new session starts when the
    gap to the previous event (per user, totally ordered) exceeds 30
    minutes; emit per-user session/event counts. This is the batch twin
    of streaming/windows.py's session windows."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compared at MICROSECOND precision on both engines: a cast to
    # long floors to whole seconds while DuckDB's epoch() keeps the
    # fraction, so a true gap of 1800.005s would flip the boundary
    # between engines (latent with current seeds, wrong on any data
    # with sub-second timestamps near the gap)
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            us - F.lag(us).over(w) > SESSION_GAP_MIN * 60 * 1_000_000,
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        (F.sum("new_sess") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_SESSION = f"""
SELECT user_id, CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
GROUP BY user_id
"""


# --- rank / dense_rank --------------------------------------------------

def win_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() and dense_rank() of suppliers by account balance within
    nation — tied doubles produce identical gaps in both engines."""
    supp = t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return supp.select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.col("s_suppkey").alias("suppkey"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    ).where(F.col("rnk") <= 5)


ORACLE_RANK = """
SELECT CAST(s_nationkey AS BIGINT) AS nationkey, s_suppkey AS suppkey,
       CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk
FROM (
  SELECT s_nationkey, s_suppkey,
         rank() OVER w AS rnk, dense_rank() OVER w AS drnk
  FROM supplier
  WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
)
WHERE rnk <= 5
"""


# --- lead/lag delta -----------------------------------------------------

def win_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer (lag arithmetic —
    the reorder-interval feature of churn pipelines)."""
    orders = t(spark, sf_dir, "orders").where(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .where(F.col("prev_date").isNotNull())
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.datediff("o_orderdate", "prev_date").cast("long").alias("gap_days"),
        )
    )


ORACLE_GAP = """
SELECT custkey, orderkey, CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days
FROM (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date
  FROM orders WHERE o_custkey % 100 = 0
)
WHERE prev_date IS NOT NULL
"""


# --- CUBE ---------------------------------------------------------------

def olap_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    pass (the superset of the corpus' ROLLUP, SURVEY §2.2)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "total"),
        )
    )


ORACLE_CUBE = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
       COUNT(*) AS cnt, {o_dsum(o_m('o_totalprice'), 'total')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- GROUPING SETS ------------------------------------------------------

def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)) — two
    independent summaries in one scan. Spark exposes this through SQL;
    the DataFrame twin would be two groupBys unioned, which is two
    scans — so the SQL form IS the idiomatic plan here."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS decimal(18,6))) AS DOUBLE) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       {o_dsum(o_m('l_quantity'), 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


# --- pivot --------------------------------------------------------------

def olap_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order totals to one column per status (explicit value
    list — at scale an implicit pivot would need a distinct pre-pass)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(m("o_totalprice")).cast("double"))
        .orderBy("priority")
    )


ORACLE_PIVOT = f"""
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN {o_m('o_totalprice')} END) AS DOUBLE) AS "O",
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN {o_m('o_totalprice')} END) AS DOUBLE) AS "F",
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN {o_m('o_totalprice')} END) AS DOUBLE) AS "P"
FROM orders GROUP BY o_orderpriority
"""


# --- exact + approximate distinct counts --------------------------------

def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(distinct user_id) per event type (two-phase exact
    distinct aggregation — the oracle-checkable twin of the sketch)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))


ORACLE_DISTINCT_USERS = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct per event type — the mergeable
    sketch that replaces exact distinct at 100 TB (one map-side sketch
    per partition, constant memory). No oracle: sketch estimates are
    implementation-defined; tests/test_analytic.py bounds its error
    against the exact twin instead."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


# --- hypertable-style time-hierarchy rollup ---------------------------

def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy (the Druid/hypertable rollup
    shape, S26): one scan of the event stream produces minute, hour,
    day, and grand-total summaries via ROLLUP over truncated
    timestamps. Spark's Expand feeds all four grouping levels into one
    partial-aggregated shuffle — at 100 TB this is strictly cheaper
    than four separate jobs and is exactly how a streaming
    materialization would fold into coarser granularities. Grouping
    indicators disambiguate levels (a NULL hour means day-level, not
    missing data)."""
    # group keys become formatted strings (NULL at rolled-up levels):
    # engine-portable values for the driver's hash compare, unlike
    # NULL-bearing timestamps whose pandas resolution differs
    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("g_day"),
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("g_hour"),
        F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("g_minute"),
        "value",
    )
    return (
        ev.rollup("g_day", "g_hour", "g_minute")
        .agg(
            F.grouping("g_day").cast("long").alias("lvl_day"),
            F.grouping("g_hour").cast("long").alias("lvl_hour"),
            F.grouping("g_minute").cast("long").alias("lvl_minute"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("value", "sum_value"),
        )
    )


ORACLE_TIME_ROLLUP = f"""
WITH e AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS g_day,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS g_hour,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS g_minute,
           value
    FROM events
)
SELECT g_day, g_hour, g_minute,
       CAST(grouping(g_day) AS BIGINT) AS lvl_day,
       CAST(grouping(g_hour) AS BIGINT) AS lvl_hour,
       CAST(grouping(g_minute) AS BIGINT) AS lvl_minute,
       COUNT(*) AS cnt,
       {o_dsum(o_m('value'), 'sum_value')}
FROM e
GROUP BY ROLLUP(g_day, g_hour, g_minute)
"""


# --- data-quality audit: referential integrity -------------------------

def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-count audit across the snowflake's foreign keys — the
    data-quality gate a pipeline runs before trusting a new drop.
    Each relationship is a LEFT ANTI join (fact side vs its dim) and
    the audit emits one row per relationship with the orphan count
    (zero rows are kept so the report is fixed-shape).

    Scale: each anti-join shuffles only its key columns (Catalyst
    prunes the rest); dims under the broadcast threshold skip the
    shuffle entirely. The final union is |relationships| rows."""
    pairs = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for rel, fact, fk, dim, pk in pairs:
        orphans = (
            t(spark, sf_dir, fact)
            .select(F.col(fk).alias("k"))
            .join(t(spark, sf_dir, dim).select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.lit(rel).alias("relationship"), F.count(F.lit(1)).alias("n_orphans"))
        )
        out = orphans if out is None else out.unionAll(orphans)
    return out


ORACLE_AUDIT = """
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
         (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
UNION ALL SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders WHERE NOT EXISTS
         (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
UNION ALL SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
         (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
UNION ALL SELECT 'supplier.s_nationkey->nation',
       (SELECT COUNT(*) FROM supplier WHERE NOT EXISTS
         (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))
UNION ALL SELECT 'nation.n_regionkey->region',
       (SELECT COUNT(*) FROM nation WHERE NOT EXISTS
         (SELECT 1 FROM region WHERE r_regionkey = n_regionkey))
"""


# --- histogram verb -----------------------------------------------------

def hist_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem extended price — the generic
    binning verb: bucket = floor(price / 5000), count + share per
    bucket. Bin assignment is one IEEE division + floor (identical in
    both engines), the share an exact-count division. One aggregate
    with map-side partials onto |buckets| rows."""
    li = t(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        li.groupBy(F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n",
            (F.col("n").cast("double") / F.col("n_total").cast("double")).alias("share"),
        )
    )


ORACLE_HIST = """
WITH total AS (SELECT COUNT(*) AS n_total FROM lineitem)
SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
FROM lineitem CROSS JOIN total
GROUP BY bucket, n_total
"""


# --- order-insensitive table checksum -----------------------------------

def audit_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table fingerprint: row count + XOR-aggregate of a
    portable per-row hash (first 60 bits of md5 over the key columns).
    XOR is commutative/associative with no overflow, so the checksum
    is order- and partitioning-insensitive and any engine (or a
    post-migration copy) can recompute it — the cheap answer to "did
    replication/ingest lose or mutate rows". One scan per table, the
    aggregate reduces map-side to a single value."""
    specs = [
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey || '-' || l_linenumber"),
        ("customer", "c_custkey"),
    ]
    out = None
    for name, keyexpr in specs:
        h = F.conv(
            F.substring(F.md5(F.expr(f"CAST({keyexpr} AS STRING)")), 1, 15), 16, 10
        ).cast("long")
        one = (
            t(spark, sf_dir, name)
            .agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor(h).alias("checksum"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out


ORACLE_CHECKSUM = """
SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
       bit_xor(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS checksum
FROM orders
UNION ALL SELECT 'lineitem', COUNT(*),
       bit_xor(CAST(('0x' || substr(md5(CAST(l_orderkey || '-' || l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT))
FROM lineitem
UNION ALL SELECT 'customer', COUNT(*),
       bit_xor(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT))
FROM customer
"""


def audit_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the data-versioning audit between two
    table versions: every doc classified added / removed / changed /
    unchanged, reported as per-status counts with deterministic
    boundary ids. The "previous snapshot" is carved from the same
    table (docs with ``doc_id % 17 == 3`` didn't exist yet; docs with
    ``doc_id % 13 == 5`` had different text, simulated by uppercasing;
    the current snapshot lacks ``doc_id % 19 == 7`` — those were
    removed). In production both sides are real table versions.

    Scale shape: content equality compares md5 **hashes computed at
    the scan**, so the doc_id-keyed full-outer join shuffles 16-byte
    digests, never document text; output is status-cardinality rows.
    """
    docs = t(spark, sf_dir, "documents")
    # presence is a dedicated flag, NOT hash-nullness: a NULL text
    # hashes to NULL, and keying "added"/"removed" on the hash would
    # misclassify a doc present in both snapshots (the oracle keys on
    # the joined doc_id, which survives NULL text)
    prev = docs.where(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 13 == 5, F.upper("text")).otherwise(
                F.col("text")
            )
        ).alias("h_prev"),
        F.lit(1).alias("in_prev"),
    )
    cur = docs.where(F.col("doc_id") % 19 != 7).select(
        "doc_id", F.md5("text").alias("h_cur"), F.lit(1).alias("in_cur")
    )
    status = (
        F.when(F.col("in_prev").isNull(), F.lit("added"))
        .when(F.col("in_cur").isNull(), F.lit("removed"))
        .when(F.col("h_prev") != F.col("h_cur"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        prev.join(cur, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("status")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH prev AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 5 THEN upper(text) ELSE text END) AS h_prev
  FROM documents WHERE doc_id % 17 <> 3
), cur AS (
  SELECT doc_id, md5(text) AS h_cur
  FROM documents WHERE doc_id % 19 <> 7
), classified AS (
  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN p.h_prev <> c.h_cur THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM prev p FULL JOIN cur c ON p.doc_id = c.doc_id
)
SELECT status, COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM classified GROUP BY status ORDER BY status
"""


MIN_COOCCUR = 3
BASKET_TOP = 20


def market_basket_lift(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Association analysis over order baskets: for part pairs bought
    together in ≥ MIN_COOCCUR orders, the lift
    ``P(a,b) / (P(a)·P(b))`` in integer milli-units, top-20.

    Scale shape (the source_overlap_matrix rule — never self-join the
    postings): baskets reduce to one sorted item array per order with
    map-side-combined collect_set, pair expansion happens *inside the
    row* (s·(s-1)/2 structs for an s-item basket, baskets are
    bounded), so the only wide shuffle carries pair structs. The
    part-frequency table is |parts| rows (broadcast) and the order
    count is a 1-row broadcast scalar. Lift is the exact rational
    ``(1e3·c·N) div (n_a·n_b)`` — BIGINT-safe out to ~sf10, widen to
    decimal beyond."""
    li = t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    if materialize:
        # baskets feeds three consumers (scalar, freq, pair expansion)
        baskets = baskets.persist()
    scalar = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    freq = (
        baskets.select(F.explode("items").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    if materialize:
        # freq broadcasts twice (part_a / part_b sides): build its
        # |parts|-row aggregate once rather than re-exploding baskets
        # per broadcast subtree.
        freq = freq.persist()
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "items",
                    lambda x, i: F.transform(
                        F.slice("items", i + F.lit(2), F.size("items")),
                        lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                    ),
                )
            )
        ).alias("pr")
    )
    counts = (
        pairs.groupBy(
            F.col("pr.part_a").alias("part_a"),
            F.col("pr.part_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= MIN_COOCCUR)
    )
    enriched = (
        counts.join(
            F.broadcast(freq.withColumnsRenamed({"p": "part_a", "n_p": "n_a"})),
            "part_a",
        )
        .join(
            F.broadcast(freq.withColumnsRenamed({"p": "part_b", "n_p": "n_b"})),
            "part_b",
        )
        .crossJoin(F.broadcast(scalar))
        .withColumn(
            "lift_milli", F.expr("(1000 * n_ab * n_orders) div (n_a * n_b)")
        )
    )
    return (
        enriched.select("part_a", "part_b", "n_ab", "lift_milli")
        .orderBy(F.col("lift_milli").desc(), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


ORACLE_BASKET = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), baskets AS (
  SELECT l_orderkey, COUNT(*) AS sz FROM items GROUP BY 1
), scalar AS (
  SELECT COUNT(*) AS n_orders FROM baskets
), freq AS (
  SELECT l_partkey AS p, COUNT(*) AS n_p FROM items GROUP BY 1
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_COOCCUR}
)
SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST((1000 * n_ab * n_orders) // (fa.n_p * fb.n_p) AS BIGINT) AS lift_milli
FROM pair_counts
JOIN freq fa ON fa.p = part_a
JOIN freq fb ON fb.p = part_b
CROSS JOIN scalar
ORDER BY lift_milli DESC, part_a, part_b
LIMIT {BASKET_TOP}
"""


QUERIES = {
    "audit_referential_integrity": audit_referential_integrity,
    "audit_table_checksum": audit_table_checksum,
    "audit_snapshot_diff": audit_snapshot_diff,
    "market_basket_lift": market_basket_lift,
    "hist_price": hist_price,
    "rollup_time_hierarchy": rollup_time_hierarchy,
    "win_topk_per_group": win_topk_per_group,
    "win_running_total": win_running_total,
    "win_moving_avg": win_moving_avg,
    "win_sessionize": win_sessionize,
    "win_rank_suppliers": win_rank_suppliers,
    "win_order_gap_days": win_order_gap_days,
    "olap_cube": olap_cube,
    "olap_grouping_sets": olap_grouping_sets,
    "olap_pivot": olap_pivot,
    "distinct_users_exact": distinct_users_exact,
    "distinct_users_approx": distinct_users_approx,
}

ORACLES = {
    "audit_referential_integrity": ORACLE_AUDIT,
    "audit_table_checksum": ORACLE_CHECKSUM,
    "audit_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "market_basket_lift": ORACLE_BASKET,
    "hist_price": ORACLE_HIST,
    "rollup_time_hierarchy": ORACLE_TIME_ROLLUP,
    "win_topk_per_group": ORACLE_TOPK,
    "win_running_total": ORACLE_RUNNING,
    "win_moving_avg": ORACLE_MOVAVG,
    "win_sessionize": ORACLE_SESSION,
    "win_rank_suppliers": ORACLE_RANK,
    "win_order_gap_days": ORACLE_GAP,
    "olap_cube": ORACLE_CUBE,
    "olap_grouping_sets": ORACLE_GROUPING_SETS,
    "olap_pivot": ORACLE_PIVOT,
    "distinct_users_exact": ORACLE_DISTINCT_USERS,
}


# --- Group-wise linear trend (closed-form OLS via aggregates) ---------

def trend_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment revenue trend: the OLS slope of order total
    price over order date, computed CLOSED-FORM from four integer
    sums — slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²). This is how you
    fit millions of independent per-group regressions on a cluster:
    one map-side-combined aggregate per group, no ML library, no
    iteration, no driver involvement.

    Determinism / overflow design: x = days since 1995-06-01 (centered
    near the data so Σxy stays ≲ 2^62 — Spark sums in BIGINT with
    silent wraparound while DuckDB widens to HUGEINT, so staying in
    int64 range is what makes the engines agree), y = total price in
    EXACT milli-units via the decimal cast. The single division is
    last, truncating toward zero on both sides (Spark DIV semantics;
    the oracle mirrors floor-division DuckDB with a sign CASE).

    Scale: one shuffle on the group key; everything else folds into
    partial aggregates. Adding r² or the intercept is two more sums of
    the same shape.
    """
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-06-01").cast("date")).cast("long").alias("x"),
        (m("o_totalprice") * 1000).cast("long").alias("y"),
    )
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").cast("decimal(20,0)").alias("n"),
        F.sum("x").cast("decimal(20,0)").alias("sx"),
        F.sum("y").cast("decimal(20,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(20,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(20,0)").alias("sxy"),
    )
    # moment products exceed int64 at sf >= 0.1 (n·Σxy ~ 1e20), so the
    # final arithmetic runs in decimal(38,0) — DuckDB mirrors with
    # HUGEINT. Truncating division q = (a - a % b) / b is exact and
    # identical in both engines (both % are C-style truncated), unlike
    # `//` (floors) vs DIV (truncates) on negatives.
    return (
        agg.withColumn("num", F.expr("n * sxy - sx * sy"))
        .withColumn("den", F.expr("n * sxx - sx * sx"))
        .withColumn("slope", F.expr("(num - num % den) / den"))
        .withColumn("ib_t", F.expr("sy - slope * sx"))
        .select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n_orders"),
            F.col("slope").cast("long").alias("slope_milli_per_day"),
            F.expr("(ib_t - ib_t % n) / n").cast("long").alias("intercept_milli"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_TREND = """
WITH pts AS (
  SELECT c.c_mktsegment,
         CAST(date_diff('day', DATE '1995-06-01', o.o_orderdate) AS BIGINT) AS x,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,6)) * 1000 AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), s AS (
  -- sums stay HUGEINT (no BIGINT cast): the moment products exceed
  -- int64 at sf >= 0.1, mirroring the decimal(38,0) Spark side
  SELECT c_mktsegment,
         COUNT(*) AS n,
         SUM(x) AS sx,
         SUM(y) AS sy,
         SUM(x * x) AS sxx,
         SUM(x * y) AS sxy
  FROM pts GROUP BY c_mktsegment
), d AS (
  SELECT *,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM s
), sl AS (
  SELECT *, (num - num % den) // den AS slope
  FROM d
)
SELECT c_mktsegment,
       CAST(n AS BIGINT) AS n_orders,
       CAST(slope AS BIGINT) AS slope_milli_per_day,
       CAST(((sy - slope * sx) - (sy - slope * sx) % n) // n AS BIGINT) AS intercept_milli
FROM sl
ORDER BY c_mktsegment
"""


# --- Column profiling audit (Deequ-style expectations input) ----------

def audit_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the orders table: per column row
    count, null count, exact distinct count, and min/max rendered
    engine-portably (dates/ints as ISO strings, money via the exact
    decimal cast — raw double→string formatting differs between
    engines). The everyday input to data-quality expectations (Deequ
    profile → checks).

    Scale: one single-distinct aggregate PER COLUMN, unioned, plus a
    metadata-only row count — not the 5-distinct single aggregate,
    whose Catalyst multi-distinct rewrite materializes a 6-way Expand
    (every row replicated once per distinct group before the partial
    agg). Parquet column pruning makes the five scans read the same
    total bytes as one five-column scan, the legs run as independent
    parallel stages, and each shuffles only its own column's deduped
    partials — the same post-partial shuffle volume as the Expand
    form without the 6x row materialization (measured 2.2x at sf0.1,
    r11 optimization round). At 100 TB you'd flip the distinct
    columns to approx_count_distinct — the per-leg plan shape
    (pruned scan, partial+final agg) is unchanged; the exact form
    here is what makes the DuckDB oracle byte-exact.
    """
    o = t(spark, sf_dir, "orders")
    # min/max aggregate on the NATIVE type (money via the exact
    # decimal view), string-rendered only after aggregation —
    # aggregating pre-cast strings would give lexicographic extremes
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": m("o_totalprice"),
        "o_orderdate": F.col("o_orderdate"),
    }
    total = o.agg(F.count(F.lit(1)).alias("n_rows"))
    parts = []
    for name, expr in cols.items():
        parts.append(
            o.agg(
                F.count(F.col(name)).alias("n_nonnull"),
                F.countDistinct(expr).alias("n_distinct"),
                F.min(expr).cast("string").alias("min_s"),
                F.max(expr).cast("string").alias("max_s"),
            ).select(
                F.lit(name).alias("col_name"),
                F.col("n_nonnull").cast("long").alias("n_nonnull"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_s",
                "max_s",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return u.crossJoin(total).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_nonnull",
        "n_distinct",
        "min_s",
        "max_s",
    ).filter(
        # same empty-table guard as audit_schema_drift: the oracle's
        # `FROM orders, rows_total` cross join yields zero rows when
        # orders is empty, Spark's global agg yields one per leg —
        # drop them (total is a 1-row broadcast side, so the cross
        # join costs one BNLJ over 5 rows)
        F.col("n_rows") > 0
    ).orderBy("col_name")


ORACLE_PROFILE = """
WITH rows_total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name, rows_total.n_rows,
         CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
  FROM orders, rows_total GROUP BY rows_total.n_rows
  UNION ALL
  SELECT 'o_custkey', rows_total.n_rows,
         CAST(COUNT(o_custkey) AS BIGINT),
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
         CAST(MIN(o_custkey) AS VARCHAR),
         CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders, rows_total GROUP BY rows_total.n_rows
  UNION ALL
  SELECT 'o_orderstatus', rows_total.n_rows,
         CAST(COUNT(o_orderstatus) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders, rows_total GROUP BY rows_total.n_rows
  UNION ALL
  SELECT 'o_totalprice', rows_total.n_rows,
         CAST(COUNT(o_totalprice) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,6))) AS BIGINT),
         CAST(MIN(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR),
         CAST(MAX(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
  FROM orders, rows_total GROUP BY rows_total.n_rows
  UNION ALL
  SELECT 'o_orderdate', rows_total.n_rows,
         CAST(COUNT(o_orderdate) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
         CAST(MIN(o_orderdate) AS VARCHAR),
         CAST(MAX(o_orderdate) AS VARCHAR)
  FROM orders, rows_total GROUP BY rows_total.n_rows
)
ORDER BY col_name
"""


QUERIES["trend_linear_fit"] = trend_linear_fit
ORACLES["trend_linear_fit"] = ORACLE_TREND
QUERIES["audit_column_profile"] = audit_column_profile
ORACLES["audit_column_profile"] = ORACLE_PROFILE


# --- schema/profile drift between snapshots ---------------------------

def audit_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between two table versions — the check a
    nightly pipeline runs before promoting a new corpus snapshot:
    per column, row/non-null/distinct counts for the previous and
    current version plus an exact null-rate-drift flag. Completes the
    audit family (checksum, snapshot diff, profile, k-anonymity,
    referential integrity) with its longitudinal member.

    Snapshots are carved deterministically from the documents table
    (same convention as audit_snapshot_diff: docs with
    ``doc_id % 17 == 3`` are new in the current version; docs with
    ``doc_id % 19 == 7`` were removed from it).

    Exactness: the null-rate comparison is the integer cross-multiply
    ``(n_p − nn_p)·n_c ≠ (n_c − nn_c)·n_p`` — no ratio ever
    materializes, so the flag is byte-identical across engines.

    Scale shape: ONE scan of the table — both versions' profiles are
    conditional aggregates over membership flags (count(CASE …),
    count(DISTINCT CASE …)) sharing a single Expand; the unpivot to
    per-column rows is a stack() over one aggregated row. (The r11
    optimization round split audit_column_profile into per-column
    single-distinct aggregates because its Expand was measured 2.2x
    slower; HERE the Expand stays — both versions' flags ride the
    same row, a per-column split would re-scan per (column, version),
    and the entry measures 0.6 s.)
    """
    d = t(spark, sf_dir, "documents")
    in_prev = F.col("doc_id") % 17 != 3
    in_cur = F.col("doc_id") % 19 != 7
    cols = ["lang", "source", "n_chars"]
    aggs = [
        F.sum(in_prev.cast("long")).alias("n_prev"),
        F.sum(in_cur.cast("long")).alias("n_cur"),
    ]
    for c in cols:
        pv = F.when(in_prev, F.col(c))
        cv = F.when(in_cur, F.col(c))
        aggs += [
            F.count(pv).alias(f"nnp_{c}"),
            F.count(cv).alias(f"nnc_{c}"),
            F.countDistinct(pv).alias(f"ndp_{c}"),
            F.countDistinct(cv).alias(f"ndc_{c}"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nnp_{c}, nnc_{c}, ndp_{c}, ndc_{c}" for c in cols
    )
    drift = (
        (F.col("n_prev") - F.col("nonnull_prev")) * F.col("n_cur")
        != (F.col("n_cur") - F.col("nonnull_cur")) * F.col("n_prev")
    )
    return (
        one.select(
            F.col("n_prev").cast("long").alias("n_prev"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.expr(
                f"stack({len(cols)}, {stack}) AS "
                "(col_name, nonnull_prev, nonnull_cur, distinct_prev, distinct_cur)"
            ),
        )
        .select(
            "col_name",
            "n_prev",
            "n_cur",
            F.col("nonnull_prev").cast("long").alias("nonnull_prev"),
            F.col("nonnull_cur").cast("long").alias("nonnull_cur"),
            F.col("distinct_prev").cast("long").alias("distinct_prev"),
            F.col("distinct_cur").cast("long").alias("distinct_cur"),
            drift.alias("null_rate_drifted"),
            (F.col("distinct_cur") - F.col("distinct_prev"))
            .cast("long")
            .alias("distinct_delta"),
        )
        # Spark's global agg yields one row even over an EMPTY table
        # (n_prev = sum() = NULL), while the oracle's `FROM documents,
        # totals` cross join yields zero; drop the degenerate row so
        # both engines agree on the empty corpus.
        .filter(F.col("n_prev").isNotNull())
        .orderBy("col_name")
    )


def _o_drift_col(c: str) -> str:
    return f"""
  SELECT '{c}' AS col_name, t.n_prev, t.n_cur,
         CAST(COUNT(CASE WHEN doc_id % 17 <> 3 THEN {c} END) AS BIGINT) AS nonnull_prev,
         CAST(COUNT(CASE WHEN doc_id % 19 <> 7 THEN {c} END) AS BIGINT) AS nonnull_cur,
         CAST(COUNT(DISTINCT CASE WHEN doc_id % 17 <> 3 THEN {c} END) AS BIGINT) AS distinct_prev,
         CAST(COUNT(DISTINCT CASE WHEN doc_id % 19 <> 7 THEN {c} END) AS BIGINT) AS distinct_cur
  FROM documents, totals t GROUP BY t.n_prev, t.n_cur"""


ORACLE_SCHEMA_DRIFT = f"""
WITH totals AS (
  SELECT CAST(SUM(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
         CAST(SUM(CASE WHEN doc_id % 19 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM documents
), per_col AS (
{_o_drift_col("lang")}
  UNION ALL
{_o_drift_col("source")}
  UNION ALL
{_o_drift_col("n_chars")}
)
SELECT col_name, n_prev, n_cur, nonnull_prev, nonnull_cur,
       distinct_prev, distinct_cur,
       (n_prev - nonnull_prev) * n_cur <> (n_cur - nonnull_cur) * n_prev
         AS null_rate_drifted,
       CAST(distinct_cur - distinct_prev AS BIGINT) AS distinct_delta
FROM per_col
ORDER BY col_name
"""


QUERIES["audit_schema_drift"] = audit_schema_drift
ORACLES["audit_schema_drift"] = ORACLE_SCHEMA_DRIFT


# --- Cohort LTV curves ------------------------------------------------

def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves by acquisition cohort: customers
    cohort by their FIRST order's quarter; each cohort row reports,
    per quarters-since-acquisition age, how much cumulative revenue
    the cohort has produced per member (milli-money, exact). The
    classic warehouse retention/LTV grid.

    Scale shape: first-order cohorting is one window (or min-agg) on
    o_custkey; the grid is one (cohort, age) aggregate; the running
    cumulative is a window over the GRID (cohorts x ages rows — tiny,
    whatever the order count); cohort sizes join back broadcast-sized.
    Revenue stays decimal-exact until the final integer milli
    division, so the oracle matches byte-for-byte.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1).cast("long").alias("q"),
    )
    first_q = orders.groupBy("o_custkey").agg(F.min("q").alias("cohort_q"))
    cohort_sizes = first_q.groupBy("cohort_q").agg(F.count("*").alias("n_customers"))
    grid = (
        orders.join(first_q, "o_custkey")
        .withColumn("age", (F.col("q") - F.col("cohort_q")).cast("long"))
        .groupBy("cohort_q", "age")
        .agg(F.sum(m("o_totalprice")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_q")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(w))
        .join(F.broadcast(cohort_sizes), "cohort_q")
        .select(
            "cohort_q",
            "age",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.expr("CAST(CAST(cum_rev * 1000 AS BIGINT) DIV n_customers AS BIGINT)").alias(
                "cum_ltv_milli"
            ),
        )
        .orderBy("cohort_q", "age")
    )


ORACLE_COHORT_LTV = """
WITH o AS (
  SELECT o_custkey,
         CAST(o_totalprice AS DECIMAL(18,6)) AS price,
         CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS BIGINT) AS q
  FROM orders
), first_q AS (
  SELECT o_custkey, MIN(q) AS cohort_q FROM o GROUP BY 1
), sizes AS (
  SELECT cohort_q, COUNT(*) AS n_customers FROM first_q GROUP BY 1
), grid AS (
  SELECT f.cohort_q, o.q - f.cohort_q AS age, SUM(o.price) AS rev
  FROM o JOIN first_q f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_q, age,
         SUM(rev) OVER (PARTITION BY cohort_q ORDER BY age
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM grid
)
SELECT c.cohort_q,
       CAST(c.age AS BIGINT) AS age,
       CAST(s.n_customers AS BIGINT) AS n_customers,
       CAST(CAST(c.cum_rev * 1000 AS BIGINT) // s.n_customers AS BIGINT) AS cum_ltv_milli
FROM cum c JOIN sizes s ON c.cohort_q = s.cohort_q
ORDER BY c.cohort_q, c.age
"""


QUERIES["cohort_ltv"] = cohort_ltv
ORACLES["cohort_ltv"] = ORACLE_COHORT_LTV


# --- k-anonymity audit (privacy release gate) -------------------------

K_ANON = 10


def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table for the
    quasi-identifier set (nation, market segment, account-balance
    band): how many equivalence classes fall below k=10, and what
    fraction of ROWS would need suppression to release the table.
    The privacy gate that runs next to pseudonymize_join / pii_redact
    before any data release.

    Output: per nation — class count, under-k class count, row count,
    rows-at-risk, and suppression rate in exact milli units.

    Scale shape: one scan → one (quasi-id) aggregate (map-side
    combined) → one nation-level rollup of class-sized rows. The
    balance band is an exact centi-integer division, so class
    boundaries are engine-identical.
    """
    cust = t(spark, sf_dir, "customer")
    # +1000.00 shift keeps the dividend positive (balances go to
    # -999.xx), where Spark's truncating DIV and DuckDB's flooring //
    # agree; band width stays $1000
    band = F.expr("(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) + 100000) DIV 100000")
    classes = (
        cust.select(
            F.col("c_nationkey").cast("long").alias("nation"),
            "c_mktsegment",
            band.alias("bal_band"),
        )
        .groupBy("nation", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        classes.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("n") < K_ANON, 1).otherwise(0)).cast("long").alias("n_under_k"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0)).cast("long").alias("rows_at_risk"),
        )
        .withColumn("suppress_milli", F.expr("(1000 * rows_at_risk) DIV n_rows").cast("long"))
        .orderBy("nation")
    )


ORACLE_K_ANON = f"""
WITH classes AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         c_mktsegment,
         (CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) + 100000) // 100000 AS bal_band,
         COUNT(*) AS n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_under_k,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST((1000 * SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)) // SUM(n) AS BIGINT) AS suppress_milli
FROM classes
GROUP BY nation
ORDER BY nation
"""


QUERIES["audit_k_anonymity"] = audit_k_anonymity
ORACLES["audit_k_anonymity"] = ORACLE_K_ANON


L_DIV = 3


def audit_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., "l-Diversity:
    Privacy Beyond k-Anonymity", TKDD 2007) — the complement to
    ``audit_k_anonymity``: a quasi-identifier class can be large
    (k-anonymous) yet still leak if every row in it shares the same
    SENSITIVE value. Here the quasi-identifier is (customer nation,
    order year), the sensitive attribute is ``o_orderpriority``; a
    class is under-diverse when it carries fewer than l=3 distinct
    priorities.

    Output mirrors the k-anonymity gate: per nation — class count,
    under-l class count, row count, rows-at-risk, and suppression
    rate in exact milli units (floor division, engine-identical).

    Scale shape: one orders⨝customer key join (AQE broadcasts the
    dimension side when it fits), one (quasi-id) aggregate with
    map-side partial count-distinct, one nation-level rollup of
    class-sized rows. ``year(DATE)`` is timezone-free, so the class
    boundaries cannot drift with session TZ.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("yr"), "o_orderpriority"
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nation")
    )
    classes = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("nation", "yr")
        .agg(
            F.count_distinct("o_orderpriority").alias("l"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        classes.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("l") < L_DIV, 1).otherwise(0)).cast("long").alias("n_under_l"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("l") < L_DIV, F.col("n")).otherwise(0)).cast("long").alias("rows_at_risk"),
        )
        .withColumn("suppress_milli", F.expr("(1000 * rows_at_risk) DIV n_rows").cast("long"))
        .orderBy("nation")
    )


ORACLE_L_DIV = f"""
WITH classes AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         COUNT(DISTINCT o_orderpriority) AS l,
         COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN l < {L_DIV} THEN 1 ELSE 0 END) AS BIGINT) AS n_under_l,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l < {L_DIV} THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST((1000 * SUM(CASE WHEN l < {L_DIV} THEN n ELSE 0 END)) // SUM(n) AS BIGINT) AS suppress_milli
FROM classes
GROUP BY nation
ORDER BY nation
"""


QUERIES["audit_l_diversity"] = audit_l_diversity
ORACLES["audit_l_diversity"] = ORACLE_L_DIV


# --- Fuzzy entity matching (record linkage, blocked self-join) --------

ER_MAX_DIST = 4


def er_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage / entity-resolution verb: find part records whose
    names are near-identical, with the standard two-phase shape —
    (1) BLOCK on a cheap key (the name's noun = last token) so the
    self-join is hash-equi on the block key instead of all-pairs,
    (2) VERIFY candidates with an edit-distance bound
    (levenshtein <= 4). Output is the per-block match summary a
    linkage pipeline reviews before merging entities.

    Scale shape: the self-join shuffles each side once on the block
    key — pair volume is Σ_b n_b², bounded by the blocking choice, not
    |parts|²; a hot block is exactly the AQE skew-join / salting case
    (operators/skew.py). Ties and distances are integers; Spark and
    DuckDB implement the same unit-cost Levenshtein, so the summary is
    byte-exact.

    Reference tie-in: "beyond the reference" warehouse verb; the
    blocked-pair plan shape is the same as dedup/ngram.py's postings
    self-join.
    """
    # Pair DISTINCT names, not records: the name vocabulary is
    # bounded (hundreds here, maybe millions at 100 TB) while records
    # are not, so the blocked self-join runs over the name table and
    # every name-pair contributes cnt_a*cnt_b RECORD pairs; same-name
    # record pairs (C(cnt,2), distance 0) are added back as a
    # side-term. Output is value-identical to the naive record-level
    # self-join — which is exactly what the DuckDB oracle still runs —
    # but the Spark side's pair volume dropped from Σ n_b² in records
    # (measured 20s at sf0.1) to Σ v_b² in distinct names (<1s).
    names = (
        t(spark, sf_dir, "part")
        .groupBy(F.lower(F.col("p_name")).alias("name"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("blk", F.element_at(F.split(F.col("name"), " "), -1))
    )
    a, b = names.alias("a"), names.alias("b")
    cross = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name"))
    ).select(
        F.col("a.blk").alias("blk"),
        (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
    )
    within = names.where(F.col("cnt") >= 2).select(
        "blk",
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("w"),
        F.lit(0).alias("dist"),
    )
    pairs = cross.unionByName(within)
    return (
        pairs.groupBy("blk")
        .agg(
            F.sum("w").cast("long").alias("n_pairs_checked"),
            F.sum(F.when(F.col("dist") <= ER_MAX_DIST, F.col("w")).otherwise(0)).cast("long").alias("n_matches"),
            F.sum(F.when(F.col("dist") == 0, F.col("w")).otherwise(0)).cast("long").alias("n_exact"),
            F.min("dist").cast("long").alias("min_dist"),
            F.max("dist").cast("long").alias("max_dist"),
        )
        .orderBy("blk")
    )


ORACLE_ER_FUZZY = f"""
WITH parts AS (
  SELECT p_partkey AS pk, lower(p_name) AS name,
         string_split(lower(p_name), ' ')[-1] AS blk
  FROM part
), pairs AS (
  SELECT a.blk, levenshtein(a.name, b.name) AS dist
  FROM parts a JOIN parts b ON a.blk = b.blk AND a.pk < b.pk
)
SELECT blk,
       CAST(COUNT(*) AS BIGINT) AS n_pairs_checked,
       CAST(SUM(CASE WHEN dist <= {ER_MAX_DIST} THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM pairs
GROUP BY blk
ORDER BY blk
"""


QUERIES["er_fuzzy_match_parts"] = er_fuzzy_match_parts
ORACLES["er_fuzzy_match_parts"] = ORACLE_ER_FUZZY


# --- Pareto / revenue-concentration curve -----------------------------

def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve: rank customers by total
    spend, bucket into deciles of the CUSTOMER COUNT, and report each
    decile's share of total revenue in exact milli units — the "top
    10% of customers drive X% of revenue" report.

    Scale shape (round-7 swap of the global raw-row NTILE sort): one
    orders aggregate to customer grain, then the distributed exact
    rank — spend buckets by its integer high bits (shiftright 12;
    spend is price-bounded, so the occupied-bucket grid stays
    grid-sized at any customer count), bucket offsets come from a
    grid-only cumulative window, and the only raw-row window is
    partitioned per bucket (common.bucketed_rank). NTILE(10) is then
    its closed-form size rule evaluated in-row (common.ntile_case) —
    bit-identical to the single-task NTILE because (offset + in-bucket
    row_number) IS the (spend DESC, custkey) global rank. Shares are
    decimal-exact sums cross-multiplied against the broadcast grand
    total.
    """
    by_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(m("o_totalprice")).alias("spend"))
    )
    ranked = bucketed_rank(
        by_cust,
        bucket=F.shiftright(F.col("spend").cast("long"), 12),
        order=[F.col("spend").desc(), F.col("o_custkey")],
        bucket_asc=False,
        rn="rn",
        n="n_cust",
    )
    deciled = ranked.withColumn(
        "decile", ntile_case("rn", "n_cust", 10).cast("long")
    )
    total = by_cust.agg(F.sum("spend").alias("total"))
    return (
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
            F.expr("CAST((1000 * CAST(rev * 1000 AS BIGINT)) DIV CAST(total * 1000 AS BIGINT) AS BIGINT)").alias("share_milli"),
        )
        .orderBy("decile")
    )


ORACLE_PARETO = """
WITH by_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
  FROM orders GROUP BY 1
), deciled AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile
  FROM by_cust
), tot AS (SELECT SUM(spend) AS total FROM by_cust)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(spend) * 1000 AS BIGINT) AS BIGINT) AS rev_milli,
       CAST((1000 * CAST(SUM(spend) * 1000 AS BIGINT)) // CAST(MAX(tot.total) * 1000 AS BIGINT) AS BIGINT) AS share_milli
FROM deciled CROSS JOIN tot
GROUP BY decile
ORDER BY decile
"""


QUERIES["pareto_revenue"] = pareto_revenue
ORACLES["pareto_revenue"] = ORACLE_PARETO


# --- order-to-ship lag percentiles (fulfillment SLA readout) -----------

def ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution per order priority: exact
    p50/p90/p99 of ``l_shipdate − o_orderdate`` in whole days — the
    fulfillment-SLA readout (does URGENT actually ship faster, and
    what does the tail look like?). PERCENTILE_DISC at 1-based rank
    ``(p·n + 99) DIV 100`` — the events_value_percentiles convention,
    applied to the TPC-H side of the house.

    Scale shape: one orderkey equi-join (fact–fact, near-unique keys,
    no row blow-up), then lags reduce to the (priority, days) COUNT
    GRID — map-side partials, |distinct day lags| is SLA-range-bounded
    — and the rank walk runs over grid rows partitioned by priority
    (events_robust_outliers convention). Never a raw-row sort."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days"),
    )
    grid = lags.groupBy("o_orderpriority", "days").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("o_orderpriority"))
    )
    pick = lambda p: F.min(
        F.when(F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("days"))
    )
    return (
        c.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_lineitems"),
            F.min("days").cast("long").alias("min_days"),
            pick(50).cast("long").alias("p50_days"),
            pick(90).cast("long").alias("p90_days"),
            pick(99).cast("long").alias("p99_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SHIP_LAG = """
WITH lags AS (
  SELECT o.o_orderpriority,
         CAST(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), r AS (
  SELECT o_orderpriority, days,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY days) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM lags
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_lineitems,
       CAST(MIN(days) AS BIGINT) AS min_days,
       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN days END) AS BIGINT) AS p50_days,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN days END) AS BIGINT) AS p90_days,
       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN days END) AS BIGINT) AS p99_days,
       CAST(MAX(days) AS BIGINT) AS max_days
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES["orders_ship_lag_percentiles"] = ship_lag_percentiles
ORACLES["orders_ship_lag_percentiles"] = ORACLE_SHIP_LAG


# --- t-closeness release audit (privacy gate #3) ----------------------

T_CLOSE_MILLI = 100


def audit_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, "t-Closeness:
    Privacy Beyond k-Anonymity and l-Diversity", ICDE 2007) — the
    third gate of the release trilogy (``audit_k_anonymity``,
    ``audit_l_diversity``): a class can be both large and l-diverse
    yet still leak when its SENSITIVE-value distribution deviates far
    from the global one (e.g. 90% URGENT in one (nation, year) cell
    against a uniform corpus). The deviation measure here is total
    variation distance between the class distribution p and the global
    distribution q over ``o_orderpriority``.

    Exactness: TV = ½·Σ|p_i − q_i| is computed in INTEGER milli units
    over the common denominator n_c·N:
    ``tv_milli = (1000·Σ_i |n_ci·N − N_i·n_c|) DIV (2·n_c·N)``.
    Priorities ABSENT from a class contribute N_i·n_c each; their sum
    folds to ``n_c·(N − Σ_present N_i)`` so the full-grid term needs
    no outer join against the priority domain. All int64 (n_ci·N ≤
    1e3·1.5e6 at sf1 — 40 bits), engine-identical.

    Output per nation: class count, classes beyond t=0.1, rows in
    them, max and mean TV in milli — the table a release reviewer
    reads to pick suppression cells.

    Scale shape: one orders⨝customer key join (AQE broadcasts the
    customer side when it fits), one (nation, yr, priority) aggregate
    that combines map-side, a broadcast of the 5-row global priority
    table plus a 1-row N scalar, then a nation rollup of class-count
    rows. Nothing driver-side; the wide corpus never reshuffles twice.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("yr"), "o_orderpriority"
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nation")
    )
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    cells = joined.groupBy("nation", "yr", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_ci")
    )
    glob = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    total = joined.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    # Compute class sizes first, then join the cell rows back for the
    # |p−q| sum — both aggregates combine map-side and the join is on
    # the same (nation, yr) key, so AQE coalesces the exchanges.
    sizes = cells.groupBy("nation", "yr").agg(F.sum("n_ci").cast("long").alias("n_c"))
    tv = (
        cells.join(F.broadcast(glob), "o_orderpriority")
        .join(sizes, ["nation", "yr"])
        .crossJoin(F.broadcast(total))
        .groupBy("nation", "yr")
        .agg(
            F.first("n_c").alias("n_c"),
            F.first("n_total").alias("n_total"),
            (
                F.sum(F.abs(F.col("n_ci") * F.col("n_total") - F.col("n_i") * F.col("n_c")))
                + F.first("n_c") * (F.first("n_total") - F.sum("n_i"))
            ).cast("long").alias("tv_num"),
        )
        .withColumn(
            "tv_milli",
            F.expr("(1000 * tv_num) DIV (2 * n_c * n_total)").cast("long"),
        )
    )
    return (
        tv.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("tv_milli") > T_CLOSE_MILLI, 1).otherwise(0))
            .cast("long")
            .alias("n_over_t"),
            F.sum(F.when(F.col("tv_milli") > T_CLOSE_MILLI, F.col("n_c")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.max("tv_milli").cast("long").alias("max_tv_milli"),
            F.expr("SUM(tv_milli) DIV COUNT(1)").cast("long").alias("mean_tv_milli"),
        )
        .orderBy("nation")
    )


ORACLE_T_CLOSE = f"""
WITH joined AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         o_orderpriority
  FROM orders JOIN customer ON o_custkey = c_custkey
), cells AS (
  SELECT nation, yr, o_orderpriority, COUNT(*) AS n_ci
  FROM joined GROUP BY 1, 2, 3
), gdist AS (
  SELECT o_orderpriority, COUNT(*) AS n_i FROM joined GROUP BY 1
), total AS (
  SELECT COUNT(*) AS n_total FROM joined
), sizes AS (
  SELECT nation, yr, CAST(SUM(n_ci) AS BIGINT) AS n_c FROM cells GROUP BY 1, 2
), tv AS (
  SELECT c.nation, c.yr,
         MIN(s.n_c) AS n_c,
         MIN(t.n_total) AS n_total,
         CAST(SUM(ABS(c.n_ci * t.n_total - g.n_i * s.n_c))
              + MIN(s.n_c) * (MIN(t.n_total) - SUM(g.n_i)) AS BIGINT) AS tv_num
  FROM cells c
  JOIN gdist g USING (o_orderpriority)
  JOIN sizes s ON c.nation = s.nation AND c.yr = s.yr
  CROSS JOIN total t
  GROUP BY c.nation, c.yr
), milli AS (
  SELECT *, CAST((1000 * tv_num) // (2 * n_c * n_total) AS BIGINT) AS tv_milli
  FROM tv
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN tv_milli > {T_CLOSE_MILLI} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_t,
       CAST(SUM(CASE WHEN tv_milli > {T_CLOSE_MILLI} THEN n_c ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(MAX(tv_milli) AS BIGINT) AS max_tv_milli,
       CAST(SUM(tv_milli) // COUNT(*) AS BIGINT) AS mean_tv_milli
FROM milli
GROUP BY nation
ORDER BY nation
"""


QUERIES["audit_t_closeness"] = audit_t_closeness
ORACLES["audit_t_closeness"] = ORACLE_T_CLOSE


# --- join-key skew profiler -------------------------------------------

SKEW_KEYS = [
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]


def audit_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the fact tables' join columns — the
    table an engineer reads BEFORE launching a 100 TB join, and the
    measurement that decides whether operators/skew.py's salting or
    AQE's skew-join split is needed. Per profiled key column: row
    count, distinct keys, the heaviest key's row count, the skew
    factor max/mean in exact milli units
    (``(1000·max_rows·n_keys) DIV n_rows``), and the hot key itself
    (smallest key id on ties — picked via an integer struct-max, so
    the choice is engine-exact, not first-seen).

    Scale shape: per column, ONE map-side-combined count aggregate to
    |keys| rows and one tiny rollup; the three profiles union into a
    3-row table. Nothing driver-side, no sort of the key space (the
    hot key rides the max-struct, not an ORDER BY).
    """
    out = None
    for tbl, col in SKEW_KEYS:
        g = (
            t(spark, sf_dir, tbl)
            .select(F.col(col).cast("long").alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        prof = g.agg(
            F.lit(f"{tbl}.{col}").alias("key_col"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_rows"),
            (-F.max(F.struct(F.col("cnt"), (-F.col("k")).alias("nk"))).getField("nk"))
            .cast("long")
            .alias("hot_key"),
        ).withColumn(
            "skew_milli",
            F.expr("(1000 * max_rows * n_keys) DIV n_rows").cast("long"),
        )
        out = prof if out is None else out.unionAll(prof)
    return out.select(
        "key_col", "n_rows", "n_keys", "max_rows", "hot_key", "skew_milli"
    ).orderBy("key_col")


def _skew_oracle_one(tbl: str, col: str) -> str:
    return f"""
SELECT '{tbl}.{col}' AS key_col,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_rows,
       CAST(-(MAX(struct_pack(cnt := cnt, nk := -k)).nk) AS BIGINT) AS hot_key,
       CAST((1000 * MAX(cnt) * COUNT(*)) // SUM(cnt) AS BIGINT) AS skew_milli
FROM (
  SELECT CAST({col} AS BIGINT) AS k, COUNT(*) AS cnt
  FROM {tbl} GROUP BY 1
) g
"""


ORACLE_JOIN_SKEW = (
    "SELECT * FROM ("
    + " UNION ALL ".join(
        f"({_skew_oracle_one(tbl, col)})" for tbl, col in SKEW_KEYS
    )
    + ") ORDER BY key_col"
)


QUERIES["audit_join_skew"] = audit_join_skew
ORACLES["audit_join_skew"] = ORACLE_JOIN_SKEW


# --- Benford first-digit audit ------------------------------------------

# log10(1 + 1/d), embedded as IDENTICAL double literals in the Spark
# plan and the oracle SQL (computed once here, repr-roundtripped), so
# the delta column is an exact subtraction of identical inputs in both
# engines — no engine-side transcendental evaluation anywhere.
import math as _math

BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of event values vs
    Benford's law — the classic synthetic-data / fraud / unit-mixup
    audit (a corpus whose amounts were generated, duplicated, or
    re-scaled drifts from the law). Values go to integer cents with
    ONE IEEE multiply + floor (exact and engine-identical), and the
    first digit is taken from the integer's decimal string — no
    log10/pow on the data path, so digits can never flip on a
    last-ulp boundary.

    Scale shape: scan → project → 9-group hash agg with map-side
    partials; the share window runs over 9 rows. Nothing else moves.
    """
    ev = t(spark, sf_dir, "events").where(F.col("value") > 0)
    cents = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    benford = F.create_map(
        *[x for d, p in BENFORD_P.items() for x in (F.lit(d), F.lit(p))]
    )[F.col("digit")]
    return (
        g.withColumn("share", F.col("n").cast("double") / total)
        .withColumn("benford_p", benford)
        .withColumn("delta", F.col("share") - F.col("benford_p"))
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items()
)

ORACLE_BENFORD = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(value * 100.0) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM events WHERE value > 0
), g AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
), s AS (
  SELECT digit, n,
         CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT) AS share,
         CASE digit {_BENFORD_CASE} END AS benford_p
  FROM g
)
SELECT digit, n, share, benford_p, share - benford_p AS delta
FROM s ORDER BY digit
"""

QUERIES["audit_benford"] = audit_benford
ORACLES["audit_benford"] = ORACLE_BENFORD


# --- token-budget inequality (Gini) --------------------------------------

def audit_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document token counts — the
    inequality audit of a corpus mix: a source whose token budget is
    concentrated in a few huge documents (gini → 1) behaves very
    differently under per-document sampling than an even one
    (gini → 0), so mixture designers read this before setting
    per-source caps (cf. per_source_cap / mix_* family).

    Exact-arithmetic form: with per-doc counts x sorted ascending and
    1-based rank i, G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) — every term an
    int64, ONE final float division. Rank ties (equal x) permute only
    equal values, so Σi·x_i is tie-order invariant and the result is
    engine-exact without any tie-break column.

    Scale shape (round-7 swap of the per-source raw-row sort window —
    |sources| is tiny, so that window put a constant fraction of the
    corpus in ONE task): docs reduce once to the (source, doc-length)
    COUNT GRID (map-side partials; |distinct lengths| is length-range-
    bounded, not corpus-bounded), and the tie-invariance the docstring
    proves makes Σi·x_i a CLOSED FORM over the grid: a tie group of
    size c whose predecessors count cum contributes
    x·(c·cum + c(c+1)/2). All windows run over the grid
    (events_robust_outliers convention); one agg onto |sources| rows."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", F.size(F.split(F.col("text"), " ")).cast("long").alias("x"))
    )
    g = docs.groupBy("source", "x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.withColumn("cum", F.coalesce(F.sum("c").over(w_cum), F.lit(0)).cast("long"))
    agg = cum.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.col("x") * F.col("c")).cast("long").alias("total_tokens"),
        F.sum(
            F.col("x")
            * (F.col("c") * F.col("cum") + F.expr("c * (c + 1) DIV 2"))
        )
        .cast("long")
        .alias("s1"),
    )
    gini = F.when(
        F.col("total_tokens") > 0,
        (F.lit(2) * F.col("s1") - (F.col("n_docs") + 1) * F.col("total_tokens"))
        .cast("double")
        / (F.col("n_docs") * F.col("total_tokens")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source", "n_docs", "total_tokens", gini.alias("gini")
    ).orderBy("source")


ORACLE_TOKEN_GINI = """
WITH d AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT source, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS i
  FROM d
), g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(x) AS BIGINT) AS total_tokens,
         CAST(SUM(i * x) AS BIGINT) AS s1
  FROM r GROUP BY source
)
SELECT source, n_docs, total_tokens,
       CASE WHEN total_tokens > 0
            THEN CAST(2 * s1 - (n_docs + 1) * total_tokens AS DOUBLE)
                 / (n_docs * total_tokens)
            ELSE 0.0 END AS gini
FROM g ORDER BY source
"""

QUERIES["audit_token_gini"] = audit_token_gini
ORACLES["audit_token_gini"] = ORACLE_TOKEN_GINI


# --- month-over-month revenue trend ---------------------------------------

def trend_mom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: per calendar month, exact-decimal
    revenue, the previous month's figure (lag), absolute delta, and
    percent change — the dashboard staple stacked on the decimal-sum
    convention so both engines agree to the byte (sums are exact
    decimals cast to double; delta/pct are IEEE ops on identical
    inputs, pct is the single-division rule).

    Gap semantics (documented contract): ``prev_revenue`` is the last
    POPULATED month's figure, not strictly the previous calendar month
    — LAG runs over existing month rows, so across a calendar gap
    delta/pct compare non-adjacent months (both engines agree; a
    strict calendar-MoM needs a densified min..max month spine before
    the lag, which changes the row set). The TPC-H order stream has no
    empty months, so the two readings coincide on every test SF.

    Shape: one month-keyed hash agg with map-side partials, then a lag
    window over the ≤|months| aggregate rows — nothing order-grain
    past the first agg."""
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(dsum("o_totalprice", "revenue"))
    w = Window.orderBy("month")
    out = monthly.withColumn("prev_revenue", F.lag("revenue").over(w))
    return out.select(
        F.col("month").cast("string").alias("month"),
        "revenue",
        "prev_revenue",
        (F.col("revenue") - F.col("prev_revenue")).alias("delta"),
        F.when(
            F.col("prev_revenue").isNotNull() & (F.col("prev_revenue") != 0.0),
            (F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"),
        ).alias("pct_change"),
    ).orderBy("month")


ORACLE_MOM_REVENUE = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         {o_dsum(o_m('o_totalprice'), 'revenue')}
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month, revenue,
         LAG(revenue) OVER (ORDER BY month) AS prev_revenue
  FROM monthly
)
SELECT CAST(month AS VARCHAR) AS month,
       revenue,
       prev_revenue,
       revenue - prev_revenue AS delta,
       CASE WHEN prev_revenue IS NOT NULL AND prev_revenue <> 0.0
            THEN (revenue - prev_revenue) / prev_revenue END AS pct_change
FROM lagged
ORDER BY month
"""

QUERIES["trend_mom_revenue"] = trend_mom_revenue
ORACLES["trend_mom_revenue"] = ORACLE_MOM_REVENUE
