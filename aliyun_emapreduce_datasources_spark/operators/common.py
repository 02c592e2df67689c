"""Shared helpers for operator/query builders.

Determinism conventions shared by every (Spark query, DuckDB oracle)
pair — engine-native double aggregation is accumulation-order-dependent
and therefore not reproducible across engines, so:

- Numeric measures are cast to ``decimal(18,6)`` before aggregation.
  Every double column in the testdata is exactly representable at 6
  decimal places (verified), so the cast is exact in both Spark and
  DuckDB and sums become order-independent integer arithmetic.
- Products (e.g. price * (1 - discount)) are summed at full decimal
  precision — (18,6)×(18,6) → scale-12 exact in both engines — and
  only the final aggregate is cast back to ``double``, which yields
  the identical IEEE-754 value on both sides.
- Averages are exact-decimal-sum / count evaluated in double.
- Integer outputs are cast to ``long`` to match DuckDB's BIGINT-typed
  scalar functions.

This mirrors the reference corpus' exact-money model (Avro
``decimal(7,2)`` — FIXTURES.md §1, StoreSales.avsc).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["t", "m", "dsum", "davg", "o_m", "o_dsum", "o_davg", "md5_bucket", "ensure_parallelism", "local_df", "release_checkpoint", "checkpoint_step", "release_counts", "revenue", "O_REVENUE", "centi_band", "o_centi_band", "bucketed_rank", "ntile_case"]


_log = logging.getLogger(__name__)
_release_counts = {"released": 0, "failed": 0}
_V = TypeVar("_V")


def release_checkpoint(df: DataFrame) -> None:
    """Deterministically drop a ``localCheckpoint``'d DataFrame's
    storage blocks.

    A localCheckpoint's blocks are NOT managed by the CacheManager
    (``spark.catalog.clearCache()`` ignores them) and are otherwise
    reclaimed only when a driver JVM GC lets the ContextCleaner run —
    in a sweep of many queries the un-collected blocks of one entry
    inflate the NEXT entries' measurements (and, on a real cluster,
    hold executor storage memory hostage between GCs). Every loop that
    checkpoints per-iteration state, and every builder that eagerly
    materializes its result, must release dead intermediates through
    this helper the moment the last consumer has materialized.

    Releases EVERY checkpoint ``df``'s plan reads (the plan's
    LogicalRDD leaves), so it also works on projections/filters OVER a
    checkpoint. MUST only be called once nothing will read those
    checkpoints again — the blocks are the truncated lineage's only
    copy, so a later action on any plan over them fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than silently recomputing.
    Safe no-op for plans that read no checkpoint (unpersisting a
    never-persisted RDD does nothing).

    Best-effort: a failure never fails the query, but it is counted in
    ``release_counts()`` and the first one is logged, so a drifted
    py4j plan contract cannot silently turn releases off.

    The materialization policy, one vehicle per purpose:

    - a subtree several consumers share: a lazy ``persist()``. The
      first consumer's job fills it (no job of its own), it keeps its
      lineage and statistics, and ``spark.catalog.clearCache()``
      releases it deterministically;
    - a pair result: an eager ``localCheckpoint``
      (``dedup/pairs.materialized_pairs``), which truncates every
      consumer's plan;
    - loop state: ``checkpoint_step``, one lazy checkpoint per round
      that the round's own probe materializes.

    A site that departs from this says why in a comment.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                _release_counts["released"] += 1
    except Exception:
        _release_counts["failed"] += 1
        if _release_counts["failed"] == 1:
            _log.warning("release_checkpoint failed; blocks are left to GC", exc_info=True)


def checkpoint_step(
    prev: DataFrame | None, nxt: DataFrame, probe: Callable[[DataFrame], _V]
) -> tuple[DataFrame, _V]:
    """One round of a checkpointed loop: ``cur`` = ``nxt`` checkpointed
    lazily, ``value`` = ``probe(cur)``, then ``prev`` (the previous
    round's ``cur``, or None in the first round) released.

    ``probe`` must be the one driver action that materializes ``cur``
    (the loop's convergence or election read), so a round is ONE job,
    not a checkpoint job plus a probe job. The release comes only after
    it: until ``cur``'s blocks exist, its plan still reads ``prev``'s,
    and releasing them first would fail the probe."""
    cur = nxt.localCheckpoint(eager=False)
    value = probe(cur)
    if prev is not None:
        release_checkpoint(prev)
    return cur, value


def release_counts() -> dict[str, int]:
    """Process-wide ``release_checkpoint`` totals: checkpoint RDDs
    ``released`` and calls that ``failed``."""
    return dict(_release_counts)


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local rows → DataFrame with a ROW-PROPORTIONATE slice
    count instead of ``createDataFrame``'s default 32-way parallelize.

    ``spark.createDataFrame(list)`` splits even a 16-row list into
    defaultParallelism pickled slices; every consumer then pays one
    Python-worker round PER SLICE, and a downstream ``coalesce(1)``
    (the single-file write pattern) evaluates all of them SEQUENTIALLY
    in one task — measured 5-6 s for a 16-row centroid table where the
    data itself costs milliseconds. Slicing by actual row count keeps
    the identical pickled-row conversion semantics (this is the same
    path createDataFrame takes internally) while a small probe/constant
    table costs ONE worker round. ~10k rows per slice keeps genuinely
    large driver-side lists (which the guards cap anyway) parallel."""
    rows = rows if isinstance(rows, list) else list(rows)
    n_slices = max(1, min(
        (len(rows) + 9_999) // 10_000,
        spark.sparkContext.defaultParallelism,
    ))
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )

DEC = "decimal(18,6)"


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster has slots — the local testdata is a single parquet file
    (one split), which would serialize expression/mapInPandas work
    onto one core. A production table has thousands of file splits, so
    this is a no-op there and the unconditional-repartition full-text
    shuffle the docstrings warn about never happens at scale."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def md5_bucket(col, modulus: int):
    """The engine's portable deterministic coin: first 32 bits of
    md5(col) mod modulus, as BIGINT. One definition — sampling, splits,
    per-source caps, DSIR buckets, and the inverted-index layout all
    derive from it, and every DuckDB oracle mirrors it as
    ``CAST(('0x' || substr(md5(x),1,8)) AS BIGINT) % modulus``. Change
    it here (e.g. widen the hex window) and every assignment moves in
    lockstep instead of silently diverging per module."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % modulus


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table (parquet scan → Catalyst prunes/pushes).

    events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark only reads via the nanosAsLong legacy conf; we floor-divide
    to micros (identical to DuckDB's nanos→micros truncation) so both
    engines see the same timestamps.
    """
    # Canonical engine timezone: all event-time semantics (windows,
    # year()/date_trunc extraction, timestamp literals) are UTC, like
    # the corpus' Avro timestamp-millis instants — and independent of
    # whatever session the caller hands us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Parquet timestamp[us] without a timezone flag arrives as
    # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ. Normalize to
    # the instant type (LTZ): with the UTC session TZ pinned above the
    # wall-clock value is unchanged and matches DuckDB's naive read,
    # while downstream epoch casts / interval arithmetic / windows keep
    # the instant-based semantics the engine standardizes on.
    for cname, ctype in df.dtypes:
        if ctype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


def m(col: str | Column) -> Column:
    """Exact-decimal view of a measure column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(expr: str | Column, alias: str) -> Column:
    """Order-independent sum: exact decimal in, double out."""
    e = m(expr) if isinstance(expr, str) else expr
    return F.sum(e).cast("double").alias(alias)


def davg(expr: str | Column, alias: str) -> Column:
    """Deterministic average: exact decimal sum (as double) / count."""
    e = m(expr) if isinstance(expr, str) else expr
    return (F.sum(e).cast("double") / F.count(e)).alias(alias)


# ---- Oracle-side (DuckDB SQL) twins ----------------------------------

def o_m(col: str) -> str:
    return f"CAST({col} AS DECIMAL(18,6))"


def o_dsum(expr: str, alias: str) -> str:
    """expr must already be decimal-exact (use o_m on raw columns)."""
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) / COUNT({expr}) AS {alias}"


def revenue() -> Column:
    """lineitem revenue ``price * (1 - discount)`` in exact decimal —
    the determinism-critical core expression of the TPC-H family,
    defined once (tpch.py and tpch_extra.py both consume it; a
    precision change in one inlined copy would silently skew the
    other module's 18 queries). O_REVENUE is its DuckDB twin."""
    return m("l_extendedprice") * (F.lit(1).cast("decimal(2,0)") - m("l_discount"))


O_REVENUE = f"{o_m('l_extendedprice')} * (1 - {o_m('l_discount')})"


def bucketed_rank(
    df: DataFrame,
    bucket: Column,
    order: list,
    part_cols: tuple = (),
    bucket_asc: bool = True,
    rn: str = "rn",
    n: str = "n_part",
) -> DataFrame:
    """Exact 1-based row rank by ``order`` (within ``part_cols``)
    WITHOUT a raw-row sort window on a low-cardinality partition key —
    the row-grain sibling of the count-grid rank walk
    (events_robust_outliers convention), shared by pareto_revenue,
    quality_stratified_filter and text_ccnet_buckets.

    ``bucket`` must be a monotone coarsening of the leading ``order``
    expression (floor-scale for bounded floats, shiftright for ints;
    ``bucket_asc`` names its direction). Plan: one map-side-combined
    count per (part, bucket); a cumulative-offset window over the
    OCCUPIED-BUCKET grid (|score-range / bucket-width| rows — the
    eval_auc_binary argument, never raw rows); the grid broadcast back
    (null-safe on part_cols: a NULL stratum is a legitimate group and
    an equi-join would silently drop it); and a row_number window
    partitioned by (part_cols, bucket), so no task ever sorts more
    than one bucket's slice of one stratum. rank = bucket offset +
    in-bucket row_number — identical term by term to the global walk.
    Bucket width is the task-size knob at 100 TB.

    The rank is inherently two-pass (grid, then join-back) and Spark
    does not reuse the shared subplan across the two branches (0
    ReusedExchange measured on text_ccnet_buckets — the caller's whole
    upstream LM pipeline executed twice), so the input is materialized
    ONCE via a lazy persist: both passes read the narrow (part,
    order-key) projection from the cache instead of recomputing the
    corpus-sized upstream.

    ``bucket`` must be deterministic; a nondeterministic one (``rand``,
    ``uuid``, a nondeterministic UDF) raises ``ValueError``. The persist
    keeps lineage, so a lost cache block recomputes the bucket, and a
    recomputed nondeterministic bucket would give the count pass and
    the join-back different ``_rb`` values: inconsistent ranks."""
    part_cols = list(part_cols)
    # withColumn silently REPLACES an existing column, so a caller
    # whose frame already carries one of the internal working names
    # (or the rn/n outputs) would get wrong ranks with no error —
    # cheap schema-only assert (round-7 advisor)
    reserved = {"_rb", "_rb2", "_off", rn, n} | {
        f"_pc_{i}" for i in range(len(part_cols))
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bucketed_rank: input columns {sorted(clash)} collide with "
            "internal working/output names — rename them first"
        )
    # the analyzed expression: an unresolved function (rand, uuid)
    # reports itself deterministic until it is resolved
    analyzed = df.select(bucket)._jdf.queryExecution().analyzed()
    if not analyzed.projectList().head().deterministic():
        raise ValueError(
            "bucketed_rank: the bucket expression is nondeterministic; a "
            "recomputed bucket would make the count pass and the join-back "
            "disagree — bucket by a deterministic expression"
        )
    b = df.withColumn("_rb", bucket.cast("long")).persist()
    per_b = b.groupBy(*part_cols, "_rb").agg(F.count(F.lit(1)).alias("_bc"))
    bo = F.asc("_rb") if bucket_asc else F.desc("_rb")
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy(bo)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        per_b.withColumn(
            "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).cast("long")
        )
        .withColumn(
            n, F.sum("_bc").over(Window.partitionBy(*part_cols)).cast("long")
        )
        .select(
            *[F.col(c).alias(f"_pc_{i}") for i, c in enumerate(part_cols)],
            F.col("_rb").alias("_rb2"),
            "_off",
            n,
        )
    )
    # null-safe on _rb as well: a NULL ordering key (e.g. quality of a
    # NULL-text doc) lands in a NULL bucket, which must still rank
    # (nulls-last) rather than vanish through an equi-join
    cond = F.col("_rb").eqNullSafe(F.col("_rb2"))
    for i, c in enumerate(part_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_pc_{i}"))
    w_in = Window.partitionBy(*part_cols, "_rb").orderBy(*order)
    return (
        b.join(F.broadcast(offs), cond)
        .withColumn(rn, (F.col("_off") + F.row_number().over(w_in)).cast("long"))
        .drop("_rb", "_rb2", "_off", *[f"_pc_{i}" for i in range(len(part_cols))])
    )


def ntile_case(rn: str, n: str, k: int) -> Column:
    """NTILE(k)'s bucket assignment as a CLOSED FORM over a
    precomputed rank — ANSI size rule: with q = n DIV k, r = n MOD k,
    the first r buckets hold q+1 rows, the rest q (q = 0 guarded:
    fewer rows than buckets → bucket = rank). Evaluated in-row, so a
    distributed exact rank (bucketed_rank) replaces the raw-row NTILE
    sort bit-identically — the eval_score_deciles convention, shared
    here so pareto_revenue and text_ccnet_buckets can't drift."""
    q = f"({n} DIV {k})"
    r = f"({n} % {k})"
    return F.expr(
        f"CASE WHEN {q} = 0 THEN {rn} "
        f"WHEN {rn} <= {r} * ({q} + 1) THEN ({rn} + {q}) DIV ({q} + 1) "
        f"ELSE {r} + ({rn} - {r} * ({q} + 1) + {q} - 1) DIV {q} END"
    )


def centi_band(value_col: str, width_centi: int):
    """Fixed-width value band on EXACT centi-integers, engine-portable
    for NEGATIVE and HALF-CENTI values too: the double->centi step is
    an explicit ROUND (ties away from zero in BOTH engines; a plain
    decimal->BIGINT cast truncates in Spark but rounds in DuckDB), and
    the band division truncates toward zero on both sides (Spark DIV
    natively; o_centi_band mirrors with a sign CASE because DuckDB's
    // floors). One definition shared by the batch
    drift monitor (operators/events.events_drift_tv) and its streaming
    twin (streaming/windows.windowed_value_histogram) so the two can
    never bin differently."""
    return F.expr(
        f"CAST(ROUND(CAST({value_col} AS DECIMAL(18,6)) * 100) AS BIGINT) DIV {width_centi}"
    )


def o_centi_band(value_col: str, width_centi: int) -> str:
    """DuckDB twin of centi_band (truncating division via sign CASE)."""
    c = f"CAST(ROUND(CAST({value_col} AS DECIMAL(18,6)) * 100) AS BIGINT)"
    return (
        f"CASE WHEN {c} < 0 THEN -((-({c})) // {width_centi}) "
        f"ELSE ({c}) // {width_centi} END"
    )
