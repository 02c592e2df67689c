"""The round-10 portable law behind ``dedup_embedding_cosine``.

Round-9 verdict ask #2 promoted the entry from rows-only to a full
DuckDB value-hash oracle by making every arithmetic step
integer-exact and engine-portable. This suite pins the pieces the
driver's hash row can't isolate:

1. the integer-exact ``auto_planes`` law equals the old float law
   everywhere it could plausibly be asked (no silent behavior change
   rode in with the portability rewrite),
2. the quantization shift floor(x·1e6) moves cosine by far less than
   the companions' QUANT_COS_SLACK (the bound the precision check's
   slack relies on),
3. the md5 plane components match DuckDB's expression bit-for-bit,
4. Spark vs DuckDB pair-set parity at sf0.001 (the driver gate runs
   sf0.01; the scale sweep runs sf0.1),
5. the recall/precision contracts hold at the AUTO-SCALED knob
   (planes=5/tables=66) on the synthetic 8192-vector clustered
   corpus — the regime sf1 runs in, which no on-disk fixture reaches.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

from aliyun_emapreduce_datasources_spark.dedup import embedding
from aliyun_emapreduce_datasources_spark.dedup.embedding import (
    LSH_PLANES,
    TARGET_BUCKET,
    _int_plane_matrix,
    auto_planes,
    auto_tables,
)
from aliyun_emapreduce_datasources_spark.dedup.properties import QUANT_COS_SLACK
from aliyun_emapreduce_datasources_spark.similarity.intdot import QSCALE


def _float_law(n: int, target: int = TARGET_BUCKET) -> int:
    """The pre-round-10 libm formulation."""
    if n <= 1:
        return LSH_PLANES
    return max(LSH_PLANES, round(math.log2(n / target)))


def test_auto_planes_integer_law_matches_float_law():
    ns = list(range(1, 20_000)) + [
        int(x) for x in np.logspace(4.5, 9.5, 4000)
    ]
    for n in ns:
        assert auto_planes(n) == _float_law(n), n


def test_tables_case_covers_every_reachable_plane_count():
    """The oracle's CASE lookup is generated from auto_tables for
    planes 3..40; planes 41 needs n ≥ 250·2^40.5 vectors (> 3·10^14 —
    beyond any corpus this engine will see). Pin the generator's
    range and that the CASE text embeds the live function's values."""
    case = embedding._tables_case()
    for p in range(3, 41):
        assert f"WHEN {p} THEN {auto_tables(p)}" in case
    assert "WHEN 41" not in case
    assert auto_planes(3 * 10**14) <= 40


def test_quantized_cosine_shift_bound():
    """max |cos(q_a,q_b) − cos(a,b)| over ALL sf0.1 pairs stays under
    half the companions' slack — the margin the precision check's
    QUANT_COS_SLACK relies on."""
    V = (
        duckdb.sql(
            "SELECT embedding FROM '/root/testdata/sf0.1/embeddings.parquet'"
        )
        .fetchnumpy()["embedding"]
    )
    M = np.vstack([np.asarray(v, dtype=np.float64) for v in V])
    Q = np.floor(M * QSCALE)
    def cosmat(X):
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Xn = X / n
        return Xn @ Xn.T

    shift = np.abs(cosmat(M) - cosmat(Q)).max()
    assert shift < QUANT_COS_SLACK / 2, shift


def test_plane_matrix_matches_duckdb_expression():
    P = _int_plane_matrix(2, 3, 4)  # planes, tables, dim
    rows = duckdb.sql(
        """
        SELECT t.t, p.p, d.d,
               CAST(CAST(('0x' || substr(md5(CAST(t.t AS VARCHAR) || ',' || CAST(p.p AS VARCHAR) || ',' || CAST(d.d AS VARCHAR)), 1, 16)) AS UBIGINT) & 65535 AS BIGINT) - 32768 AS w
        FROM (SELECT unnest(generate_series(0, 2)) AS t) t,
             (SELECT unnest(generate_series(0, 1)) AS p) p,
             (SELECT unnest(generate_series(0, 3)) AS d) d
        """
    ).fetchall()
    for tbl, p, d, w in rows:
        assert P[d, tbl * 2 + p] == w, (tbl, p, d)


def test_portable_oracle_parity_sf0001(spark):
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    oracle = {
        tuple(r) for r in con.execute(embedding.ORACLE_PORTABLE).fetchall()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding.embedding_neardup_lsh_portable(spark, sf).collect()
    }
    assert got == oracle and len(got) > 0


def test_portable_recall_at_auto_scaled_planes(spark, tmp_path):
    """The recall contracts at the AUTO-SCALED knob settings, not just
    the 3-plane floor: a synthetic 8192-vector clustered corpus makes
    auto_planes return 5 (and auto_tables 66), checked against the
    QUANTIZED exact ground truth the portable law defines (plus the
    float s ≥ 0.5 recall floor, which quantization cannot erode at 0.1
    of margin)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_clusters, members, dim = 1024, 8, 128
    n = n_clusters * members
    assert auto_planes(n) == 5 and auto_tables(5) == 66

    rng = np.random.default_rng(20260814)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    sigma = np.where(np.arange(n_clusters) % 2 == 0, 0.065, 0.135)[:, None, None]
    noise = rng.standard_normal((n_clusters, members, dim))
    vecs = (centers[:, None, :] + sigma * noise).reshape(n, dim).astype(np.float32)

    d = tmp_path / "corpus"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )

    # the portable law's own exact ground truth: quantized ints,
    # integer threshold predicate (float64 stays exact: dot < 2^53)
    Q = np.floor(vecs.astype(np.float64) * QSCALE)
    dots = Q @ Q.T
    n2 = np.einsum("ij,ij->i", Q, Q)
    ok = (dots > 0) & (25.0 * dots * dots >= 4.0 * np.outer(n2, n2))
    exact_q = set(zip(*np.nonzero(np.triu(ok, k=1))))

    Vn = vecs.astype(np.float64)
    Vn /= np.linalg.norm(Vn, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    hi = set(zip(*np.nonzero(np.triu(sims >= 0.5, k=1))))
    assert len(hi) > 3_000 and len(exact_q) > len(hi)

    got = {
        (r.vec_a, r.vec_b)
        for r in embedding.embedding_neardup_lsh_portable(
            spark, str(d)
        ).collect()
    }
    missed_hi = hi - got
    assert not missed_hi, f"missed {len(missed_hi)} s>=0.5 pairs"
    assert got <= exact_q, f"false positives: {sorted(got - exact_q)[:5]}"
    recall = len(got & exact_q) / len(exact_q)
    assert recall >= 0.85, recall


def test_minhash_clusters_oracle_parity_sf0001(spark):
    """Round-10 sibling promotion: dedup_minhash_clusters = portable
    md5 MinHash pairs -> min-label connected components, vs the
    recursive-CTE DuckDB closure."""
    from aliyun_emapreduce_datasources_spark.dedup import clusters

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    oracle = {
        tuple(r)
        for r in con.execute(clusters.ORACLE_MINHASH_CLUSTERS).fetchall()
    }
    got = {
        (r.doc_id, r.cluster_id, r.is_kept)
        for r in clusters.minhash_cluster_resolve(spark, sf).collect()
    }
    assert got == oracle and len(got) > 0
