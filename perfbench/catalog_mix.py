"""catalog_mix: short catalog entries and the curate chain back to back.

A pass runs a fixed set of catalog entries, one per family, into the
noop sink, then the curate chain (``curate.pipeline``) over the same
fixture's documents, in closed loop and a fixed order, over a fixture
generated from the seed. At this scale every step is the per-query
floor: DataFrame-building Python, eager jobs and Catalyst dominate it, and
the chain adds the MinHash shuffle and the emrkv connector.
"""

from __future__ import annotations

import contextlib
import io
import os
import time

import curate
from harness import STAGE_COUNTERS, Result, Tracer, fixture_module, frames_match, median, pct, plan_seconds

# family -> ((entry, the fixture table it reads), ...): oracle-backed
# entries of the families the curate chain does not already cover (its
# stages are the text, dedup, pack and emrkv layers)
FAMILIES = {
    "similarity": (("emb_label_centroid", "embeddings"),),
    "events": (("events_funnel", "events"),),
    "pipeline": (("doc_length_quantiles_approx", "documents"),),
    "sources": (("cdc_scd2_history", "events"),),
}
# approximate entries have no exact oracle: their row count is checked
# against the exact twin's oracle
APPROX_TWIN = {"doc_length_quantiles_approx": "doc_length_quantiles"}
MEASURES = ("build_s", "plan_s", "exec_s", "gc_s", "jobs")
TABLES = ("documents", "events", "embeddings")
SF = 0.02  # 1000 documents, 758 embeddings, 20000 events
# a run measures a fixed number of passes, one per PASS_S of --seconds
# (a pass takes about 10 s), so a slow host does not also measure fewer
# passes. The warm-up before them runs the chain once, paying the first
# touch of the emrkv connector and the chain's plans; its outputs are
# the ones the oracles check.
PASS_S = 6.0


def layer_names() -> list[str]:
    return [f"catalog.{f}.{m}" for f in FAMILIES for m in MEASURES] + curate.layer_names()


def entries() -> list[tuple[str, str]]:
    return [(fam, name) for fam, group in FAMILIES.items() for name, _table in group]


def prepare(root: str, out: str, seed: int, sf: float = SF) -> str:
    with contextlib.redirect_stdout(io.StringIO()):  # the generator prints a summary
        fixture_module(root).generate(out, sf, seed)
    return out


def documents(sf_dir: str) -> str:
    """The curate chain's emrkv source: the fixture's documents file."""
    return os.path.join(sf_dir, "documents.parquet")


def one_pass(spark, tr, queries, sf_dir: str, out: str, res: Result | None) -> dict:
    """Each entry once, then the curate chain into ``out``; returns
    {entry: (build span, plan seconds, exec span)} and counts a raising
    entry or chain as a failure."""
    got = {}
    for fam, name in entries():
        try:
            with tr.span(f"catalog.{fam}.build") as b:
                df = queries[name](spark, sf_dir)
            plan = plan_seconds(df) if tr.enabled else 0.0
            with tr.span(f"catalog.{fam}.exec") as e:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a raising entry is a failed operation
            if res is not None:
                res.fail(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0]}")
            continue
        finally:
            # the bench.py convention: no entry inherits another's cache
            spark.catalog.clearCache()
        got[name] = (b, plan, e)
    try:
        curate.pipeline(spark, tr, documents(sf_dir), out)
    except Exception as exc:  # noqa: BLE001 — a raising stage is a failed operation
        if res is not None:
            res.fail(f"curate chain: {type(exc).__name__}: {str(exc).splitlines()[0]}")
    finally:
        spark.catalog.clearCache()
    return got


def collect(spark, queries, sf_dir: str) -> dict[str, object]:
    """Each entry's result as a pandas frame, for the oracles (after
    the measured passes, outside the timed region)."""
    got = {}
    for _fam, name in entries():
        try:
            got[name] = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — reported by check_oracles
            got[name] = exc
        finally:
            spark.catalog.clearCache()
    return got


def check_oracles(got: dict[str, object], sf_dir: str) -> dict[str, str]:
    """Each entry's collected result against its DuckDB oracle; returns
    {entry: reason} for mismatches."""
    import duckdb

    from aliyun_emapreduce_datasources_spark.operators.catalog import ORACLES

    bad = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for _fam, name in entries():
            if isinstance(got[name], Exception):
                bad[name] = f"raised {type(got[name]).__name__}"
                continue
            if name in APPROX_TWIN:
                want = con.execute(ORACLES[APPROX_TWIN[name]]).df()
                if len(got[name]) != len(want):
                    bad[name] = f"rows {len(got[name])} vs {len(want)}"
                continue
            reason = frames_match(got[name], con.execute(ORACLES[name]).df())
            if reason:
                bad[name] = reason
    finally:
        con.close()
    return bad


def check_chain(src: str, warm: str, outs: list[str]) -> tuple[dict[str, str], dict[str, float]]:
    """The warm-up chain's stage outputs against the DuckDB oracles and
    every measured chain's against the warm-up's (same input, same
    outputs); returns ({stage or pass/stage: reason}, {stage: rows})."""
    try:
        first = curate.stage_outputs(warm)
    except Exception as exc:  # noqa: BLE001 — the warm-up chain raised
        return {stage: f"no output ({type(exc).__name__})" for stage in curate.STAGES}, {}
    bad = curate.check_against_oracles(src, warm, first)
    for i, out in enumerate(outs):
        try:
            later = curate.stage_outputs(out)
        except Exception as exc:  # noqa: BLE001 — that pass's chain raised
            bad[f"pass {i}"] = f"no output ({type(exc).__name__})"
            continue
        for stage, why in curate.same_outputs(later, first).items():
            bad[f"pass {i} {stage}"] = why
    return bad, {k: float(len(v)) for k, v in first.items()}


def run(ctx) -> Result:
    from aliyun_emapreduce_datasources_spark.operators.catalog import QUERIES

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    sf_dir = ctx.timed_setup(lambda: prepare(ctx.root, os.path.join(ctx.work, "input"), ctx.seed))
    warm = os.path.join(ctx.work, "warm")
    with ctx.warmup():
        with contextlib.suppress(Exception):  # check_chain reports it
            curate.pipeline(spark, Tracer(spark, False, "warm"), documents(sf_dir), warm)

    passes: list[dict] = []
    pass_spans = []
    outs = []
    n_ops = len(entries()) + len(curate.STAGES)
    for i in range(max(2, round(ctx.seconds / PASS_S))):
        outs.append(os.path.join(ctx.work, f"pass{i}"))
        with tr.span("catalog.pass") as sp:
            passes.append(one_pass(spark, tr, QUERIES, sf_dir, outs[-1], res))
        pass_spans.append(sp)
        res.attempted += n_ops

    # checks, outside the timed region: a mismatch fails the entry or
    # stage in every pass
    t_check = time.perf_counter()
    for name, why in check_oracles(collect(spark, QUERIES, sf_dir), sf_dir).items():
        for _ in passes:
            res.fail(f"{name}: {why}")
    chain_bad, rows = check_chain(documents(sf_dir), warm, outs)
    for what, why in chain_bad.items():
        # every pass wrote the warm-up's outputs, or check_chain says so
        for _ in passes if what in curate.STAGES else [what]:
            res.fail(f"curate {what}: {why}")
    check_s = time.perf_counter() - t_check

    # each operation's best time over the passes (the repo's min-of-N
    # convention), build plus write; their sum is the best-case pass. A
    # neighbour's burst that slows one operation in one pass on this
    # shared host does not move the figures
    best = [
        min(p[name][0].adjusted + p[name][2].adjusted for p in passes if name in p)
        for _fam, name in entries()
        if any(name in p for p in passes)
    ]
    for stage in curate.STAGES:
        pairs = list(zip(tr.by_name(f"{stage}.build"), tr.by_name(f"{stage}.exec")))
        if pairs:
            best.append(min(b.adjusted + e.adjusted for b, e in pairs))
    wall = sum(best)
    lat = [1000.0 * x for x in best]
    res.e2e = {
        "wall_s": wall,
        "rows_per_s": _input_rows(sf_dir) / wall,
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 90),
    }
    res.samples = {"wall_s": len(pass_spans), "rows_per_s": len(pass_spans),
                   "latency_p50_ms": len(lat), "latency_p90_ms": len(lat)}
    res.notes.append(
        f"{len(passes)} passes of {len(entries())} entries and the {len(curate.STAGES)}-stage "
        f"curate chain; best pass wall {min(sp.adjusted for sp in pass_spans):.3f} s, "
        f"raw pass wall {median([sp.seconds for sp in pass_spans]):.3f} s, "
        f"stolen CPU share {median([sp.steal for sp in pass_spans]):.3f}; checks {check_s:.3f} s"
    )

    if tr.enabled:
        for fam, group in FAMILIES.items():
            per_pass = {m: [] for m in MEASURES}
            for p in passes:
                ran = [p[n] for n, _table in group if n in p]
                per_pass["build_s"].append(sum(b.adjusted for b, _pl, _e in ran))
                per_pass["plan_s"].append(sum(pl for _b, pl, _e in ran))
                per_pass["exec_s"].append(sum(e.adjusted for _b, _pl, e in ran))
                per_pass["gc_s"].append(sum(b.counters["gc_s"] + e.counters["gc_s"] for b, _pl, e in ran))
                per_pass["jobs"].append(sum(b.counters["jobs"] + e.counters["jobs"] for b, _pl, e in ran))
            for m, xs in per_pass.items():
                res.layers[f"catalog.{fam}.{m}"] = median(xs)
        for stage in curate.STAGES:
            builds = tr.by_name(f"{stage}.build")
            execs = tr.by_name(f"{stage}.exec")
            res.layers[f"{stage}.build_s"] = median([s.adjusted for s in builds])
            res.layers[f"{stage}.exec_s"] = median([s.adjusted for s in execs])
            for c in STAGE_COUNTERS:
                res.layers[f"{stage}.{c}"] = median(
                    [b.counters[c] + e.counters[c] for b, e in zip(builds, execs)]
                )
            res.layers[f"{stage}.rows_out"] = rows.get(stage, 0.0)
    return res


def _input_rows(sf_dir: str) -> int:
    """Rows a pass reads: each entry's input table, and the documents
    the curate chain scans."""
    import pyarrow.parquet as pq

    rows = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES}
    return sum(rows[t] for group in FAMILIES.values() for _name, t in group) + rows["documents"]
