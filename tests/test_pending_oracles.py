"""Round-9 promoted oracles (r08 verdict ask #1): dedup_simhash,
dedup_minhash_lsh, dedup_bloom_decontaminate and
dedup_winnow_fingerprint run the PORTABLE md5 hash family (round 8;
winnow's rolling hash was SQL-exact as-is) and each has a full DuckDB
twin. They were staged in ORACLES_PENDING during the round-8 rotation
freeze and merged into ORACLES in round 9 (dedup/queries.PROMOTED_R09
records the cohort). This suite runs the EXACT driver comparison on
them — Spark result vs DuckDB oracle at the test SF, value-compared
through assert_frames_match — plus detector-sensitivity mutations
proving each oracle can fail."""

from __future__ import annotations

import pytest

from aliyun_emapreduce_datasources_spark.dedup import minhash, simhash
from aliyun_emapreduce_datasources_spark.dedup.queries import (
    ORACLES,
    PROMOTED_R09,
    QUERIES,
)
from test_oracle_parity import assert_frames_match


@pytest.mark.parametrize("name", sorted(PROMOTED_R09))
def test_promoted_oracle_matches(name, spark, oracle, sf_dir):
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    assert len(spark_pdf) > 0, f"{name}: vacuous parity (no rows)"
    oracle_pdf = oracle.execute(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_catalog_hash_is_portable_family():
    # the oracles above are only valid under the md5 pin — a drive-by
    # hash swap must fail here, not as a driver mismatch in the next
    # rotation window
    assert simhash.CATALOG_HASH == "md5"
    assert minhash.CATALOG_HASH == "md5"


def test_simhash_oracle_rejects_corrupted_hamming(spark, oracle, sf_dir):
    pdf = QUERIES["dedup_simhash"](spark, sf_dir).toPandas()
    pdf.loc[pdf.index[0], "hamming"] += 1
    with pytest.raises(AssertionError):
        assert_frames_match(
            pdf, oracle.execute(ORACLES["dedup_simhash"]).df(), "mut"
        )


def test_minhash_oracle_rejects_dropped_pair(spark, oracle, sf_dir):
    pdf = QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    with pytest.raises(AssertionError):
        assert_frames_match(
            pdf.iloc[1:],
            oracle.execute(ORACLES["dedup_minhash_lsh"]).df(),
            "mut",
        )


def test_md5_variant_requires_power_of_two_perms():
    with pytest.raises(ValueError, match="power-of-two"):
        minhash._signature("a b c d e f", 100, 25, 4)


def test_bloom_catalog_hash_is_portable():
    from aliyun_emapreduce_datasources_spark.dedup import bloom

    assert bloom.CATALOG_HASH == "md5"


def test_bloom_oracle_rejects_corrupted_flag_count(spark, oracle, sf_dir):
    pdf = QUERIES["dedup_bloom_decontaminate"](spark, sf_dir).toPandas()
    assert len(pdf) > 0
    pdf.loc[pdf.index[0], "n_flagged"] += 1
    with pytest.raises(AssertionError):
        assert_frames_match(
            pdf,
            oracle.execute(ORACLES["dedup_bloom_decontaminate"]).df(),
            "mut",
        )


def test_bloom_pow2_params_integer_exact():
    from aliyun_emapreduce_datasources_spark.dedup.bloom import _params

    assert _params(4, 0.01, "pow2") == (64, 7)       # 16n exactly 64
    assert _params(5, 0.01, "pow2") == (128, 7)      # next pow2 above 80
    assert _params(1, 0.01, "pow2") == (64, 7)       # floor
    m, k = _params(26_000, 0.01, "pow2")
    assert m == 1 << 19 and k == 7                   # 416k -> 524288


def test_promotion_landed():
    """r09 merged the staged cohort into ORACLES — assert the merge
    happened and nothing is left staged: every promoted name is a live
    catalog entry with an oracle, and the transitional ORACLES_PENDING
    dict is gone (a survivor would mean the driver never sees them)."""
    import aliyun_emapreduce_datasources_spark.dedup.queries as dq

    assert set(PROMOTED_R09) == {
        "dedup_simhash",
        "dedup_minhash_lsh",
        "dedup_bloom_decontaminate",
        "dedup_winnow_fingerprint",
    }
    assert set(PROMOTED_R09) <= set(QUERIES)
    assert set(PROMOTED_R09) <= set(ORACLES)
    assert not hasattr(dq, "ORACLES_PENDING")


def test_winnow_oracle_rejects_corrupted_containment(spark, oracle, sf_dir):
    pdf = QUERIES["dedup_winnow_fingerprint"](spark, sf_dir).toPandas()
    assert len(pdf) > 0
    pdf.loc[pdf.index[0], "containment"] *= 0.75
    with pytest.raises(AssertionError):
        assert_frames_match(
            pdf,
            oracle.execute(ORACLES["dedup_winnow_fingerprint"]).df(),
            "mut",
        )
