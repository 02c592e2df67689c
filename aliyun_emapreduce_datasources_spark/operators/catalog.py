"""Central query/oracle catalog.

Merges every module's (QUERIES, ORACLES) pair. ``__spark_entry__``
re-exports these for the driver's correctness gate; bench.py times the
headline subset.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# The driver's CORRECTNESS gate checks the catalog in insertion order
# with a bounded window (50 entries per round so far). Rotation is
# AUTOMATIC since round 2: _auto_front() below reads every
# CORRECTNESS_r*.json and fronts the oracle-backed entries no round
# has officially checked yet, so the window sweeps a fresh slice each
# round with no manual edits; once everything has a green row, the
# remainder of the window re-confirms earlier families stalest round
# first. Keep the number of never-checked oracle-backed entries at
# most 50 before a round ends — new entries self-front.


def _last_checked_rounds() -> dict[str, int]:
    """entry → highest round number whose CORRECTNESS_rNN.json records
    it; empty when no driver files are readable."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for k in data:
                last[k] = max(last.get(k, 0), rnd)
    return last


def _auto_front() -> list[str]:
    """Front-of-window names, auto-rotated. Order (round-3 verdict
    asks #6/#7): (1) oracle-backed entries no prior round's
    CORRECTNESS_r*.json records — new rows get their official hash
    check first; (2) already-green oracle-backed entries, STALEST
    round first, so residual window slots re-confirm the oldest rows
    instead of whichever family merges first. Rows-only entries never
    front — the driver's bounded window spends every slot on
    hash-checked rows. With no driver files every oracle-backed entry
    is fresh, so the front is the oracle-backed entries in merge
    order."""
    last = _last_checked_rounds()
    oracled = [k for k in QUERIES if k in ORACLES]
    fresh = [k for k in oracled if k not in last]
    stale_first = sorted((k for k in oracled if k in last), key=lambda k: last[k])
    return fresh + stale_first


def _merge(mod) -> None:
    for k, v in mod.QUERIES.items():
        if k in QUERIES:
            raise ValueError(f"duplicate query name {k}")
        QUERIES[k] = v
    ORACLES.update(getattr(mod, "ORACLES", {}))


def _load() -> None:
    import importlib

    from aliyun_emapreduce_datasources_spark.operators import (
        analytic,
        approx_bounds,
        chunking,
        corpus,
        events,
        graph,
        pipeline,
        skew,
        tpch,
        tpch_extra,
    )

    _merge(tpch)
    _merge(tpch_extra)
    _merge(corpus)
    _merge(analytic)
    _merge(events)
    _merge(skew)
    _merge(pipeline)
    _merge(chunking)
    _merge(graph)
    _merge(approx_bounds)
    for modname in (
        "dedup.queries",
        "similarity.queries",
        "functions.queries",
        "sources.queries",
        "multimodal.queries",
    ):
        fq = f"aliyun_emapreduce_datasources_spark.{modname}"
        try:
            mod = importlib.import_module(fq)
        except ModuleNotFoundError as exc:
            # only swallow a genuinely-missing optional module; a typo'd
            # transitive import inside it must not silently shrink the
            # catalog (and with it the correctness-gate surface)
            if exc.name == fq:
                continue
            raise
        _merge(mod)

    # reorder: front-of-window names first (driver checks in insertion
    # order), remaining entries keep their original relative order
    front = {k: QUERIES[k] for k in _auto_front()}
    rest = {k: v for k, v in QUERIES.items() if k not in front}
    QUERIES.clear()
    QUERIES.update(front)
    QUERIES.update(rest)


_load()
