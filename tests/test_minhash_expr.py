"""JVM expression signature legs vs their plain-Python md5 references.

Round-9 verdict ask #3: the MinHash OPH and SimHash signature stages
moved from mapInPandas to whole-stage-codegen expression trees. The
oracle rows already pin end-to-end values; these tests pin the two
things the oracle can't see:

1. SIGNATURE-LEVEL parity — the expression tree reproduces the
   plain-Python (sh, bands) / simhash values exactly, doc by doc (not
   just the post-join survivors).
2. NO PYTHON WORKER — the physical plan of the catalog entries has no
   Arrow/Python eval node; a regression that silently reroutes
   through Python shows up here, not as a wall-clock mystery two
   containers later.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aliyun_emapreduce_datasources_spark.dedup import minhash, simhash
from aliyun_emapreduce_datasources_spark.operators.common import t

SF_DIR = "/root/testdata/sf0.001"

_PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow", "MapInArrow")


def _docs(spark):
    return (
        t(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )


SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sh", T.ArrayType(T.StringType())),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)


def _pandas_signatures(docs):
    """The plain-Python md5 ``_signature`` run as an Arrow-batched map
    pass: the parity baseline."""
    from aliyun_emapreduce_datasources_spark.dedup.minhash import (
        _signature,
        N_PERM,
        N_BANDS,
        ROWS_PER_BAND,
    )
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {"doc_id": [], "sh": [], "bands": []}
            for _, row in pdf.iterrows():
                sh, bands = _signature(row["text"], N_PERM, N_BANDS, ROWS_PER_BAND)
                if not sh:
                    continue
                out["doc_id"].append(int(row["doc_id"]))
                out["sh"].append(sh)
                out["bands"].append(bands.tolist())
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, SIG_SCHEMA)


def test_minhash_expr_signatures_match_pandas_leg(spark):
    expr = (
        minhash._with_signatures(_docs(spark))
        .select("doc_id", F.sort_array("sh").alias("sh"), "bands")
        .orderBy("doc_id")
        .collect()
    )
    ref = (
        _pandas_signatures(_docs(spark))
        .select("doc_id", F.sort_array("sh").alias("sh"), "bands")
        .orderBy("doc_id")
        .collect()
    )
    assert len(expr) == len(ref) > 0
    for e, r in zip(expr, ref):
        assert e.doc_id == r.doc_id
        assert e.sh == r.sh, e.doc_id
        assert e.bands == r.bands, e.doc_id


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` in a plan string, parens matched."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return out


def test_minhash_fill_base_is_not_inlined_into_lambdas(spark):
    """The densification filler's ``wmul_const(gmin, _FILL_C1)`` is a
    ~60-node tree computed ONCE per document as column ``fill_base``.
    Inlined back into the fill lambdas it runs once per empty slot,
    interpreted — the optimizer must keep the lambdas reading the
    column."""
    plan = (
        minhash._with_signatures(_docs(spark))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    fills = [b for b in _lambda_bodies(plan) if str(minhash._FILL_C2) in b]
    assert fills, plan
    for body in fills:
        assert "fill_base#" in body, body
        assert "gmin#" not in body and "shiftleft" not in body, body


def test_simhash_expr_matches_pandas_leg(spark):
    from aliyun_emapreduce_datasources_spark.dedup.simhash import _fingerprint

    got = {
        r.doc_id: r.simhash
        for r in simhash.simhash64(_docs(spark)).collect()
    }
    ref = {r.doc_id: _fingerprint(r.text) for r in _docs(spark).collect()}
    assert got == ref and len(got) > 0


@pytest.mark.parametrize(
    "entry",
    ["minhash", "simhash"],
)
def test_catalog_plans_have_no_python_worker(spark, entry):
    # materialize=False: the catalog path eagerly checkpoints its
    # result (deterministic cache release, r10 ask #2), which would
    # reduce the inspected plan to a checkpointed-RDD scan and make
    # this pin vacuous — the lazy twin exposes the REAL pipeline plan
    q = {
        "minhash": lambda s, d: minhash.minhash_dedup_pairs(
            s, d, hash_name=minhash.CATALOG_HASH, materialize=False
        ),
        "simhash": lambda s, d: simhash.QUERY(s, d, materialize=False),
    }[entry]
    plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for node in _PY_NODES:
        assert node not in plan, (entry, node)


def test_minhash_rejects_other_hash_families(spark):
    """md5 is the only signature hash family: any other name fails
    loudly before a plan is built."""
    with pytest.raises(ValueError, match="md5"):
        minhash.minhash_dedup_pairs(spark, SF_DIR, hash_name="blake2b")
