"""An all-zero embedding reaching any ANN top-k path scores cosine 0.

The corpus is 300 vectors of positive components plus one zero vector
(id 300). For the query of non-positive components every real
neighbor has a negative cosine, so the zero vector (cosine 0 under
the guarded normalization) is the exact top-1. For the query of
positive components the zero vector is the exact last; a NaN sim
would sort above every number in Spark's ordering and put it at rank
1, so its absence from that query's top-k is the NaN check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from aliyun_emapreduce_datasources_spark.similarity import bruteforce, ivf, lsh, pq, quantize

ZERO_ID = 300
NEG_Q, POS_Q = 1000, 1001


def _ivf_file(corpus, queries, tmp_path):
    dst = str(tmp_path / "index")
    ivf.write_clustered(corpus, ivf.train_centroids(corpus), dst)
    return ivf.ivf_file_search_topk(corpus.sparkSession, dst, queries)


PATHS = {
    "bruteforce": lambda c, q, _: bruteforce.topk_cosine(c, q),
    "int8": lambda c, q, _: quantize.topk_cosine_int8(c, q),
    "pq": lambda c, q, _: pq.pq_topk(c, q),
    "lsh": lambda c, q, _: lsh.ann_lsh_topk(c, q),
    "ivf": lambda c, q, _: ivf.ann_ivf_topk(c, q),
    "ivf_file": _ivf_file,
}


@pytest.fixture(scope="module")
def zero_norm_input(spark):
    rng = np.random.default_rng(20261020)
    vecs = np.abs(rng.standard_normal((ZERO_ID, 16))).astype(np.float32)
    vecs = np.vstack([vecs, np.zeros((1, 16), dtype=np.float32)])
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(ZERO_ID + 1), "embedding": list(map(list, vecs))}),
        "vec_id long, embedding array<float>",
    )
    q = np.abs(rng.standard_normal((2, 16))).astype(np.float32)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [NEG_Q, POS_Q], "q_embedding": [list(-q[0]), list(q[1])]}),
        "query_id long, q_embedding array<float>",
    )
    return corpus, queries


@pytest.mark.parametrize("path", sorted(PATHS))
def test_zero_vector_scores_zero_not_nan(spark, zero_norm_input, tmp_path, path):
    corpus, queries = zero_norm_input
    rows = PATHS[path](corpus, queries, tmp_path).collect()
    top = {(r.query_id, r.rnk): r.neighbor_id for r in rows}
    assert ZERO_ID not in {n for (qid, _), n in top.items() if qid == POS_Q}
    if path in ("bruteforce", "int8"):
        assert top[(NEG_Q, 1)] == ZERO_ID
