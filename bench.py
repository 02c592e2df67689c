#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "catalog_total", "value": N, "unit": "sec",
     "queries": {<slowest 10 only>}, "n_queries": 221, "sf": 0.1}

The stdout line is kept well under 2 KB (the driver captures only a
short stdout tail — round 1 lost its official number to truncation);
the full per-query timing map is written to BENCH_DETAIL.json next to
this file for round-over-round diffing, with each entry's layer split
under ``layers``: build_s, exec_s, jobs_build, jobs, task_s, gc_s,
shuffle_write_bytes and spill_bytes, read from Spark's status store by
perfbench's tracer.

Each query is executed to completion with a noop sink (full plan runs,
nothing is collected to the driver — the 100 TB-honest measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import uuid

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES
from aliyun_emapreduce_datasources_spark.session import get_session
from perfbench.harness import STAGE_COUNTERS, Tracer, plan_seconds

# a JVM GC every GC_EVERY entries: unreferenced localCheckpoint blocks
# are only enqueued for ContextCleaner on a JVM GC; without one the
# sweep measures earlier entries' heap debt (observed as a 2-4x
# inflation of late-alphabet entries)
GC_EVERY = 20


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM, parquet footers and the Python/Arrow worker pool
    once, so per-query numbers measure execution, not first-touch
    JIT/metadata or pyspark-worker fork costs."""
    noop(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    noop(QUERIES["lr_scoring"](spark, sf_dir))
    # JSON codec codegen (to_json/from_json JIT) — one tiny row
    noop(spark.sql("SELECT from_json(to_json(named_struct('a', 1)), 'a int')"))
    # Python DataSource planning/read workers (emrkv scan path)
    noop(QUERIES["pyds_kv_scan"](spark, sf_dir))


def run_entry(tracer: Tracer, name: str, sf_dir: str, plan: bool = False):
    """Build entry ``name`` and write it to noop, each inside a span of
    the enabled ``tracer``. Returns the layer record (the two spans'
    seconds, the build's and the total job count, the summed stage
    counters) and the query's ``explain("formatted")`` or None. With
    ``plan``, the query is planned once more between the spans, which
    is part of neither: the record gets ``plan_s`` and the plan text is
    taken before the write runs."""
    with tracer.span(f"{name}:build") as build:
        df = QUERIES[name](tracer.spark, sf_dir)
    rec, text = {}, None
    if plan:
        rec["plan_s"] = plan_seconds(df)
        text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    with tracer.span(f"{name}:exec") as run:
        noop(df)
    rec.update(build_s=build.seconds, exec_s=run.seconds, jobs_build=build.counters["jobs"])
    for k in STAGE_COUNTERS:
        rec[k] = build.counters[k] + run.counters[k]
    return {
        k: int(v) if k.startswith("jobs") or k.endswith("bytes") else round(v, 4)
        for k, v in rec.items()
    }, text


def detail(timings: dict[str, float], layers: dict[str, dict], sf: float | None) -> dict:
    """The BENCH_DETAIL.json record (tools/bench_diff.py and
    tools/sf1_exponents.py read ``queries``)."""
    return {
        "metric": "catalog_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "layers": layers,
        "n_queries": len(timings),
        "sf": sf,
    }


def sf_of(sf_dir: str) -> float | None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    tracer = Tracer(spark, True, f"bench-{uuid.uuid4().hex[:8]}")
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for i, name in enumerate(sorted(QUERIES)):
        rec, _ = run_entry(tracer, name, sf_dir)
        timings[name] = round(rec["build_s"] + rec["exec_s"], 4)
        layers[name] = rec
        # entries that persist() intermediates (signature tables, pair
        # lists) would otherwise accumulate in the executor heap across
        # the sweep — later entries then measure the earlier entries'
        # GC pressure, not their own plan (r01->r02 diffs showed ±4s
        # noise on untouched queries from exactly this)
        spark.catalog.clearCache()
        if i % GC_EVERY == GC_EVERY - 1:
            spark.sparkContext._jvm.System.gc()

    out = detail(timings, layers, sf_of(sf_dir))
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "catalog_total",
                "value": out["value"],
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "sf": out["sf"],
            }
        )
    )


if __name__ == "__main__":
    main()
