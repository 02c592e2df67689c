"""The curate chain: the batch LLM-data pipeline that catalog_mix runs
once a pass, after its catalog entries.

emrkv scan with a pushed filter -> quality gate -> exact dedup ->
MinHash pairs -> connected components (one document per cluster) ->
decontaminate -> pack_sequences -> emrkv write. Each stage's output is
materialized once; where the next stage's public function reads
``documents`` from a directory, the output is written there with the
fixture's schema.
"""

from __future__ import annotations

import os

from harness import STAGE_COUNTERS, Tracer, frames_match

STAGES = (
    "sources.emrkv_scan",
    "functions.quality",
    "dedup.exact",
    "dedup.minhash",
    "dedup.components",
    "dedup.decontaminate",
    "operators.pack",
    "sources.emrkv_write",
)
MEASURES = ("build_s", "exec_s", *STAGE_COUNTERS, "rows_out")
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
MIN_CHARS = 80  # the pushed scan filter
# a training document is dropped when it shares at least this many
# distinct 3-shingles with the eval split (doc_id % 10 == 0); the
# fixture's 30-word vocabulary makes single shared shingles universal
MAX_SHARED = 12


def layer_names() -> list[str]:
    return [f"{s}.{m}" for s in STAGES for m in MEASURES]


def pipeline(spark, tr: Tracer, src: str, out: str) -> None:
    """One run of the chain; every stage is two spans, ``<stage>.build``
    (the public call, with its eager jobs) and ``<stage>.exec`` (the
    write that materializes the stage's output)."""
    from pyspark.sql import functions as F

    from aliyun_emapreduce_datasources_spark.dedup.clusters import connected_components
    from aliyun_emapreduce_datasources_spark.dedup.decontaminate import decontaminate
    from aliyun_emapreduce_datasources_spark.dedup.exact import exact_dedup
    from aliyun_emapreduce_datasources_spark.dedup.minhash import CATALOG_HASH, minhash_dedup_pairs
    from aliyun_emapreduce_datasources_spark.functions.text import quality_score
    from aliyun_emapreduce_datasources_spark.operators.pipeline import pack_sequences
    from aliyun_emapreduce_datasources_spark.sources.pyds import register_all

    def d(i: int) -> str:
        return os.path.join(out, f"s{i}")

    def docs(i: int):
        return spark.read.parquet(os.path.join(d(i), "documents.parquet"))

    def write_docs(df, i: int) -> None:
        df.select(*DOC_COLS).write.mode("overwrite").parquet(os.path.join(d(i), "documents.parquet"))

    with tr.span("sources.emrkv_scan.build"):
        register_all(spark)
        scan = (
            spark.read.format("emrkv").option("path", src).load()
            .where(F.col("n_chars") >= MIN_CHARS)
        )
    with tr.span("sources.emrkv_scan.exec"):
        write_docs(scan, 1)

    with tr.span("functions.quality.build"):
        keep = quality_score(spark, d(1)).where("keep").select("doc_id")
    with tr.span("functions.quality.exec"):
        write_docs(docs(1).join(keep, "doc_id", "left_semi"), 2)

    with tr.span("dedup.exact.build"):
        keepers = exact_dedup(spark, d(2)).select(F.col("keeper_id").alias("doc_id"))
    with tr.span("dedup.exact.exec"):
        write_docs(docs(2).join(keepers, "doc_id", "left_semi"), 3)

    with tr.span("dedup.minhash.build"):
        pairs = minhash_dedup_pairs(spark, d(3), hash_name=CATALOG_HASH)
    with tr.span("dedup.minhash.exec"):
        pairs.write.mode("overwrite").parquet(os.path.join(d(4), "pairs.parquet"))

    with tr.span("dedup.components.build"):
        edges = spark.read.parquet(os.path.join(d(4), "pairs.parquet"))
        comps = connected_components(docs(3).select("doc_id"), edges)
    with tr.span("dedup.components.exec"):
        leaders = comps.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
        write_docs(docs(3).join(leaders, "doc_id", "left_semi"), 5)

    with tr.span("dedup.decontaminate.build"):
        dirty = decontaminate(spark, d(5)).where(F.col("n_shared") >= MAX_SHARED)
    with tr.span("dedup.decontaminate.exec"):
        write_docs(docs(5).join(dirty.select("doc_id"), "doc_id", "left_anti"), 6)

    with tr.span("operators.pack.build"):
        packed = pack_sequences(spark, d(6))
    with tr.span("operators.pack.exec"):
        packed.write.mode("overwrite").parquet(os.path.join(d(7), "pack.parquet"))

    with tr.span("sources.emrkv_write.build"):
        writer = (
            spark.read.parquet(os.path.join(d(7), "pack.parquet"))
            .write.format("emrkv").option("path", d(8)).mode("overwrite")
        )
    with tr.span("sources.emrkv_write.exec"):
        writer.save()


# --- output checks (outside the timed region) -------------------------

def _table(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", exclude_invalid_files=True).to_table()


def stage_outputs(out: str) -> dict[str, object]:
    """Each stage's materialized output as a pandas frame."""
    paths = {
        "sources.emrkv_scan": "s1/documents.parquet",
        "functions.quality": "s2/documents.parquet",
        "dedup.exact": "s3/documents.parquet",
        "dedup.minhash": "s4/pairs.parquet",
        "dedup.components": "s5/documents.parquet",
        "dedup.decontaminate": "s6/documents.parquet",
        "operators.pack": "s7/pack.parquet",
    }
    res = {k: _table(os.path.join(out, p)).to_pandas() for k, p in paths.items()}
    import json

    with open(os.path.join(out, "s8", "_SUCCESS")) as fh:
        files = json.load(fh)["files"]
    import pandas as pd
    import pyarrow.parquet as pq

    res["sources.emrkv_write"] = pd.concat(
        [pq.read_table(os.path.join(out, "s8", f)).to_pandas() for f in files],
        ignore_index=True,
    )
    return res


def _components_keep(ids, pairs) -> set[int]:
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in parent if find(i) == i}


def check_against_oracles(src: str, out: str, outputs: dict[str, object]) -> dict[str, str]:
    """Compare every stage's output with the catalog's DuckDB oracle SQL
    over the same stage input; returns {stage: reason} for failures."""
    import duckdb

    from aliyun_emapreduce_datasources_spark.operators.catalog import ORACLES

    bad: dict[str, str] = {}
    con = duckdb.connect()

    def over(path: str) -> None:
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')")

    def ids(df) -> set[int]:
        return {int(x) for x in df["doc_id"]}

    def expect(stage: str, got: set[int], want: set[int]) -> None:
        if got != want:
            bad[stage] = f"{len(got ^ want)} doc ids differ ({len(got)} vs {len(want)})"

    s = lambda i: os.path.join(out, f"s{i}", "documents.parquet", "*.parquet")  # noqa: E731
    try:
        over(src)
        expect("sources.emrkv_scan", ids(outputs["sources.emrkv_scan"]),
               {r[0] for r in con.execute(f"SELECT doc_id FROM documents WHERE n_chars >= {MIN_CHARS}").fetchall()})
        over(s(1))
        q = ORACLES["text_quality_score"]
        expect("functions.quality", ids(outputs["functions.quality"]),
               {r[0] for r in con.execute(f"SELECT doc_id FROM ({q}) WHERE keep").fetchall()})
        over(s(2))
        q = ORACLES["dedup_exact"]
        expect("dedup.exact", ids(outputs["dedup.exact"]),
               {r[0] for r in con.execute(f"SELECT keeper_id FROM ({q})").fetchall()})
        over(s(3))
        want_pairs = con.execute(ORACLES["dedup_minhash_lsh"]).df()
        reason = frames_match(outputs["dedup.minhash"], want_pairs)
        if reason:
            bad["dedup.minhash"] = reason
        s3 = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        expect("dedup.components", ids(outputs["dedup.components"]),
               _components_keep(s3, want_pairs[["doc_a", "doc_b"]].itertuples(index=False)))
        over(s(5))
        q = ORACLES["dedup_decontaminate"]
        dirty = {r[0] for r in con.execute(f"SELECT doc_id FROM ({q}) WHERE n_shared >= {MAX_SHARED}").fetchall()}
        s5 = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
        expect("dedup.decontaminate", ids(outputs["dedup.decontaminate"]), s5 - dirty)
        over(s(6))
        reason = frames_match(outputs["operators.pack"], con.execute(ORACLES["pack_sequences"]).df())
        if reason:
            bad["operators.pack"] = reason
        reason = frames_match(outputs["sources.emrkv_write"], outputs["operators.pack"])
        if reason:
            bad["sources.emrkv_write"] = reason
    finally:
        con.close()
    return bad


def same_outputs(a: dict[str, object], b: dict[str, object]) -> dict[str, str]:
    """Stages whose output differs between two runs over one input."""
    bad = {}
    for stage in STAGES:
        reason = frames_match(a[stage], b[stage])
        if reason:
            bad[stage] = reason
    return bad

