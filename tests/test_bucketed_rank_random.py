"""Randomized property test for common.bucketed_rank / ntile_case —
the shared distributed-exact-rank kernel behind pareto_revenue,
text_stratified_filter and text_ccnet_buckets (round 7.5).

hypothesis composes adversarial inputs the entry-level differentials
can't enumerate: NULL strata, NULL ordering values (NULL buckets),
heavy tie runs relative to the bucket width, single-row strata,
n < k NTILE edge (bucket = rank), both directions, bucket widths from
degenerate (1 value per bucket) to one-bucket-holds-everything — and
asserts row-for-row equality against the raw window forms
(row_number / count / NTILE over the same total order)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import (
    bucketed_rank,
    ntile_case,
)

# values drawn from a SMALL range → tie runs; None → NULL bucket path
VALS = st.one_of(st.none(), st.integers(min_value=-12, max_value=12))
PARTS = st.sampled_from([None, "a", "b"])

ROWS = st.lists(st.tuples(PARTS, VALS), min_size=1, max_size=60)


def _frames_equal(a, b, key):
    ra = [tuple(r) for r in a.orderBy(key).collect()]
    rb = [tuple(r) for r in b.orderBy(key).collect()]
    assert ra == rb


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=ROWS,
    width=st.sampled_from([1, 3, 7, 100]),
    asc=st.booleans(),
    k=st.integers(min_value=1, max_value=7),
    use_parts=st.booleans(),
)
def test_bucketed_rank_matches_raw_window(spark, rows, width, asc, k, use_parts):
    data = [(p, v, i) for i, (p, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "part string, v long, id long")
    part_cols = ("part",) if use_parts else ()
    order = [F.col("v").asc() if asc else F.col("v").desc(), F.col("id")]

    got = bucketed_rank(
        df,
        bucket=F.floor(F.col("v") / F.lit(float(width))),
        order=order,
        part_cols=part_cols,
        bucket_asc=asc,
        rn="rn",
        n="n_part",
    ).withColumn("tile", ntile_case("rn", "n_part", k).cast("long"))

    w = Window.partitionBy(*part_cols).orderBy(*order)
    want = (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn(
            "n_part",
            F.count(F.lit(1)).over(Window.partitionBy(*part_cols)).cast("long"),
        )
        .withColumn("tile", F.ntile(k).over(w).cast("long"))
    )
    _frames_equal(
        got.select("part", "v", "id", "rn", "n_part", "tile"),
        want.select("part", "v", "id", "rn", "n_part", "tile"),
        "id",
    )


def test_bucketed_rank_rejects_nondeterministic_bucket(spark):
    df = spark.range(20).withColumnRenamed("id", "v")
    with pytest.raises(ValueError, match="nondeterministic"):
        bucketed_rank(df, bucket=F.floor(F.rand() * 4), order=[F.col("v")])
