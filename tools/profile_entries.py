#!/usr/bin/env python
"""Per-entry layer profile of catalog entries.

    python tools/profile_entries.py [-n N] [--out PATH] [--plans DIR] [entry ...]

Runs each entry N times (default 3) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on the package session, after bench.py's
warm-up, with no names every entry. Each rep builds the entry and
writes it to noop inside perfbench tracer spans (bench.run_entry),
then clears the cache and runs a JVM GC. For the fastest rep it prints
the wall time (build + exec) and its split: build_s, plan_s, exec_s,
jobs (build, total), task_s, gc_s, shuffle_write_bytes, spill_bytes,
and the rep's jobs with their call sites and durations.

``--out`` writes the min-of-N times and splits in the BENCH_DETAIL.json
shape (tools/bench_diff.py and tools/sf1_exponents.py read it);
``--plans`` writes each entry's ``explain("formatted")`` to
DIR/<entry>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES  # noqa: E402
from aliyun_emapreduce_datasources_spark.session import get_session  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402


def entry_jobs(spark, group: str) -> list[tuple[int, str, float]]:
    """(job id, call site, seconds) of every job run under ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        ms = job.completionTime().get().getTime() - job.submissionTime().get().getTime()
        out.append((jid, job.name(), ms / 1000.0))
    return out


def profile_entry(spark, name: str, sf_dir: str, reps: int = 3, plans: str | None = None):
    """Run entry ``name`` ``reps`` times; returns the fastest rep's
    layer record and job list, and every rep's wall time."""
    tracer = Tracer(spark, True, f"profile-{uuid.uuid4().hex[:8]}")
    runs = []
    for rep in range(reps):
        rec, text = bench.run_entry(tracer, name, sf_dir, plan=True)
        n = len(tracer.spans)
        jobs = [j for idx in (n - 2, n - 1) for j in entry_jobs(spark, f"{tracer.run_id}-{idx}")]
        if plans and rep == 0:
            with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
                fh.write(text)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        runs.append((round(rec["build_s"] + rec["exec_s"], 4), rec, jobs))
    _, rec, jobs = min(runs, key=lambda r: r[0])
    return rec, jobs, [r[0] for r in runs]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-n", type=int, default=3, help="reps per entry (min-of-N)")
    ap.add_argument("--out", help="write a BENCH_DETAIL.json-shaped record here")
    ap.add_argument("--plans", help="write explain('formatted') per entry into this dir")
    ap.add_argument("entries", nargs="*", help="catalog entries (default: all)")
    args = ap.parse_args()
    names = args.entries or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)

    timings, layers = {}, {}
    for name in names:
        rec, jobs, walls = profile_entry(spark, name, sf_dir, args.n, args.plans)
        timings[name], layers[name] = min(walls), rec
        print(
            f"{name}  wall {min(walls):.3f} s (reps {'/'.join(f'{w:.2f}' for w in walls)})"
            f"  build {rec['build_s']:.3f}  plan {rec['plan_s']:.3f}  exec {rec['exec_s']:.3f}"
            f"  jobs {rec['jobs_build']}/{rec['jobs']}  task {rec['task_s']:.2f} s"
            f"  gc {rec['gc_s']:.2f} s  shuffle_write {rec['shuffle_write_bytes']} B"
            f"  spill {rec['spill_bytes']} B",
            flush=True,
        )
        for jid, site, secs in jobs:
            print(f"    job {jid:5d} {secs:7.3f} s  {site}", flush=True)

    if args.out:
        out = bench.detail(timings, layers, bench.sf_of(sf_dir))
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
