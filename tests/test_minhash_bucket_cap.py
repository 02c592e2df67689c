"""Hot-bucket star cap in the MinHash banding join (r10 verdict ask
#6): a boilerplate-heavy corpus drops thousands of identical docs into
one (band, bucket); all-pairs there is the one quadratic hiding in the
banding join at 100 TB. The cap keeps all-pairs at or under BUCKET_CAP
and emits a leader-star above it — bounded fan-out, bucket stays
connected, every emitted pair still exact-verified.

Mutation-style protocol (like the property-oracle seeding tests): the
SAME adversarial fixture is run through the uncapped twin to prove it
is sharp — without the cap the candidate count explodes quadratically,
with it the count is linear."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup import minhash

N_DOCS = 400
BOILERPLATE = (
    "subscribe to our newsletter terms of service privacy policy all "
    "rights reserved contact us about careers press blog help center"
)


@pytest.fixture(scope="module")
def boiler_sig(spark):
    docs = spark.createDataFrame(
        [(i, BOILERPLATE) for i in range(N_DOCS)], "doc_id long, text string"
    )
    sig = minhash._with_signatures(docs).persist()
    sig.count()
    yield sig
    sig.unpersist()


def test_cap_bounds_candidates_and_keeps_connectivity(boiler_sig):
    capped = minhash.lsh_candidate_pairs(boiler_sig).persist()
    n = capped.count()
    # identical docs share every band bucket -> the star dedups to one
    # leader: O(N) candidates, nowhere near N²/2
    assert 0 < n <= 4 * N_DOCS, n
    # connectivity: every doc appears in some pair, so downstream
    # clustering collapses the whole boilerplate group
    members = set(
        r[0]
        for r in capped.select(F.explode(F.array("doc_a", "doc_b"))).collect()
    )
    assert members == set(range(N_DOCS))
    capped.unpersist()


def test_uncapped_twin_proves_fixture_is_sharp(boiler_sig):
    # mutation: bypassing the cap on the SAME fixture must explode
    # quadratically — otherwise the test above is vacuous
    uncapped = minhash.lsh_candidate_pairs(boiler_sig, bucket_cap=None)
    assert uncapped.count() == N_DOCS * (N_DOCS - 1) // 2


def test_at_cap_bucket_keeps_exact_all_pairs(spark):
    # a bucket at exactly BUCKET_CAP members keeps classic all-pairs —
    # organic fixture behavior (and the catalog oracle rows) unchanged.
    # persist per the lsh_candidate_pairs caller contract (the capped
    # plan references the signature table from five branches)
    docs = spark.createDataFrame(
        [(i, BOILERPLATE) for i in range(minhash.BUCKET_CAP)],
        "doc_id long, text string",
    )
    sig = minhash._with_signatures(docs).persist()
    try:
        n = minhash.lsh_candidate_pairs(sig).count()
    finally:
        sig.unpersist()
    assert n == minhash.BUCKET_CAP * (minhash.BUCKET_CAP - 1) // 2


def test_catalog_fixtures_stay_under_cap(spark, sf_dir):
    """The shipped corpora never trigger the cap — the catalog entry's
    value rows are bit-identical to the uncapped rounds (the oracle
    models the cap anyway, but this pins that r11 results did not
    move)."""
    docs = minhash.t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # persist first, as the production path does: consuming `bands`
    # through the LAZY expr tree lets the optimizer inline the whole
    # signature fold into the downstream Generate (sig referenced 128x
    # by the band probes) — a ~100x per-row evaluation blowup
    sig = minhash._with_signatures(docs).persist()
    try:
        sig.count()
        max_bucket = (
            sig.select(F.posexplode("bands").alias("band", "bucket"))
            .groupBy("band", "bucket")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
    finally:
        sig.unpersist()
    assert max_bucket <= minhash.BUCKET_CAP, max_bucket
