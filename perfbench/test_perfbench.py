"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench -q

The end-to-end tests run each workload twice in a subprocess from the
checkout root (about five minutes on four cores); the check tests seed
a corruption into a correct output and expect the check to fail.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import curate  # noqa: E402
import run  # noqa: E402
import stream  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_well_formed_and_unique():
    names = list(run.E2E_UNITS) + run.all_layer_names()
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))


def test_benchmark_json_lists_what_run_reports():
    spec = bench_spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == run.all_layer_names()
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_workload_emits_every_metric(workload):
    """Untraced: every end-to-end metric; traced: every per-layer one.
    The two runs use different seeds, so the names cannot depend on it."""
    e2e = _run(workload, 1, 0)
    assert e2e["correct"] and e2e["failed"] == 0 and e2e["attempted"] >= 1
    assert set(e2e["metrics"]) == set(run.E2E_UNITS)
    assert all(v["value"] > 0 for v in e2e["metrics"].values())
    layers = _run(workload, 2, 1)
    assert layers["correct"]
    assert set(layers["metrics"]) == set(run.all_layer_names())
    own = run.workload_module(workload).layer_names()
    assert any(layers["metrics"][n]["value"] > 0 for n in own)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _digest(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_seed_changes_the_inputs(tmp_path):
    import catalog_mix

    assert _digest(catalog_mix.prepare(ROOT, str(tmp_path / "m1"), 1, 0.002)) != _digest(
        catalog_mix.prepare(ROOT, str(tmp_path / "m2"), 2, 0.002)
    )
    s1 = stream.EventSource(1).events(50, 0.0, 0.0)
    assert s1 == stream.EventSource(1).events(50, 0.0, 0.0)
    assert s1 != stream.EventSource(2).events(50, 0.0, 0.0)


# --- the checks catch seeded corruptions ------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from aliyun_emapreduce_datasources_spark.session import get_session

    s = get_session("perfbench-tests")
    yield s


def test_curate_check_catches_a_changed_pack_count(spark, tmp_path):
    from harness import Tracer

    import catalog_mix

    src = catalog_mix.documents(catalog_mix.prepare(ROOT, str(tmp_path / "in"), 3, 0.006))
    out = str(tmp_path / "out")
    curate.pipeline(spark, Tracer(spark, False, "t"), src, out)
    outputs = curate.stage_outputs(out)
    assert curate.check_against_oracles(src, out, outputs) == {}
    outputs["operators.pack"].loc[0, "n_docs"] += 1
    bad = curate.check_against_oracles(src, out, outputs)
    assert "operators.pack" in bad and "sources.emrkv_write" in bad


def test_catalog_check_catches_a_changed_a_short_and_a_raising_entry(spark, tmp_path):
    import catalog_mix

    from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES

    sf_dir = catalog_mix.prepare(ROOT, str(tmp_path / "fx"), 4, 0.002)
    got = catalog_mix.collect(spark, QUERIES, sf_dir)
    assert catalog_mix.check_oracles(got, sf_dir) == {}
    changed = got["emb_label_centroid"].copy()
    col = changed.select_dtypes("number").columns[0]
    changed.loc[changed.index[0], col] += 1
    got["emb_label_centroid"] = changed
    got["doc_length_quantiles_approx"] = got["doc_length_quantiles_approx"].head(1)
    got["events_funnel"] = RuntimeError("seeded")
    bad = catalog_mix.check_oracles(got, sf_dir)
    assert set(bad) == {"emb_label_centroid", "doc_length_quantiles_approx", "events_funnel"}


# the statement's SELECT in batch form, run by Spark: the sink rows a
# correct single batch would write, and a cross-check of the plain-Python
# stream.batch_result the benchmark compares with
BATCH_SQL = """
SELECT u.segment, CAST(window(e.ts, '1 minute').start AS STRING) AS w_start,
       COUNT(*) AS n, SUM(e.value) AS total, MAX(e.gen_ts) AS max_gen_ts
FROM t_events e JOIN t_users u ON e.user_id = u.user_id
GROUP BY window(e.ts, '1 minute'), u.segment
"""
EVENT_DDL = "event_id bigint, user_id bigint, value double, ts timestamp, gen_ts double"


@pytest.fixture()
def committed_sink(spark, tmp_path):
    """A correct single-batch sink for a small generated stream (late
    events included), and the batch result to check it against."""
    shards = tmp_path / "shards"
    shards.mkdir()
    stream.publish(str(shards), "shard-000000", stream.EventSource(5).events(400, 600.0, 1.5))
    dim = stream.prepare(str(tmp_path / "in"), 5)["dim"]
    spark.read.schema(EVENT_DDL).json(str(shards)).createOrReplaceTempView("t_events")
    spark.read.parquet(dim).createOrReplaceTempView("t_users")
    rows = [(0, i % 4, r.segment, r.w_start, str(r.n), str(r.total), str(r.max_gen_ts))
            for i, r in enumerate(spark.sql(BATCH_SQL).collect())]
    return rows, [(0, "COMMITTED")], stream.batch_result(str(shards), dim)


def test_stream_check_passes_a_correct_sink(committed_sink):
    """Spark's batch SELECT and the plain-Python batch result agree."""
    rows, log, want = committed_sink
    assert stream.check_sink(rows, log, want) == []


def test_stream_check_catches_a_dropped_row(committed_sink):
    rows, log, want = committed_sink
    assert stream.check_sink(rows[1:], log, want)


def test_stream_check_catches_a_duplicate_and_an_uncommitted_batch(committed_sink):
    rows, log, want = committed_sink
    assert stream.check_sink(rows + rows[:1], log, want)
    assert stream.check_sink(rows, [(0, "UNCOMMITTED")], want)
