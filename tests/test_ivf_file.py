"""IVF inverted-file layout (r08 verdict ask #4): the assignment is
written out PARTITIONED BY cluster id (write_clustered), and a probe
read scans only the nprobe probed partitions — partition pruning is
plan-asserted (PartitionFilters, the operators/search.py contract)
and the materialized search path returns exactly what the in-memory
ann_ivf_topk returns for the same centroids."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import t
from aliyun_emapreduce_datasources_spark.similarity.ivf import (
    N_PROBE,
    ann_ivf_topk,
    ivf_file_search_topk,
    load_centroids,
    read_clustered,
    train_centroids,
    write_clustered,
)


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = train_centroids(emb)
    dst = str(tmp_path_factory.mktemp("ivf") / "index")
    write_clustered(emb, C, dst)
    return dst


def test_centroids_roundtrip_exact(spark, sf_dir, index_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = train_centroids(emb)
    np.testing.assert_array_equal(load_centroids(spark, index_dir), C)


def test_probe_read_partition_prunes(spark, index_dir):
    probed = read_clustered(spark, index_dir, [1, 3, 5])
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    scan = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "cluster" in scan, plan
    # the filter must live on the partition directories, not as a
    # post-scan Filter over a full read
    assert "PartitionFilters: [" in plan and "IN (1,3,5)" in scan.replace(
        ", ", ","
    ), plan
    got = sorted(
        r.cluster for r in probed.select("cluster").distinct().collect()
    )
    assert set(got) <= {1, 3, 5}
    assert got, "probed clusters are empty — fixture degenerated"


def test_file_covers_whole_corpus_once(spark, sf_dir, index_dir):
    import os

    emb = t(spark, sf_dir, "embeddings")
    file = spark.read.parquet(os.path.join(index_dir, "file"))
    assert file.count() == emb.count()
    assert file.select("vec_id").distinct().count() == emb.count()


def test_file_search_matches_inmemory_ivf(spark, sf_dir, index_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    via_file = ivf_file_search_topk(spark, index_dir, queries).toPandas()
    in_mem = ann_ivf_topk(
        emb.select("vec_id", "embedding"), queries
    ).toPandas()
    key = ["query_id", "rnk"]
    a = via_file.sort_values(key).reset_index(drop=True)
    b = in_mem.sort_values(key).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0
    for col in a.columns:
        if a[col].dtype.kind == "f":
            np.testing.assert_allclose(a[col], b[col], rtol=1e-12)
        else:
            assert (a[col] == b[col]).all(), col


def test_file_search_reads_only_probed_partitions(spark, index_dir):
    from aliyun_emapreduce_datasources_spark.similarity.ivf import (
        N_CLUSTERS,
    )

    C = load_centroids(spark, index_dir)
    rng = np.random.default_rng(7)
    q = rng.normal(size=(2, C.shape[1]))
    queries = spark.createDataFrame(
        [(10_000 + i, [float(x) for x in row]) for i, row in enumerate(q)],
        "query_id long, q_embedding array<float>",
    )
    res = ivf_file_search_topk(spark, index_dir, queries, nprobe=N_PROBE)
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    scan = plan[plan.index("PartitionFilters") :].splitlines()[0]
    # at most 2 queries × nprobe distinct clusters may appear in the
    # pruning predicate — never all K
    in_list = scan[scan.index("IN (") + 4 : scan.index(")", scan.index("IN ("))]
    probed = {int(x) for x in in_list.replace(" ", "").split(",")}
    assert len(probed) <= 2 * N_PROBE < N_CLUSTERS, scan
    assert res.count() > 0


def test_catalog_check_empty_and_falsifiable(spark, sf_dir, tmp_path):
    """The catalog entry ann_ivf_file_consistency_check returns the
    EMPTY violation set on a healthy index — and the same comparison
    genuinely fires on a corrupted one (a cluster partition dropped
    from the filed index ⇒ its vectors vanish from the file-path
    top-k), so the 0-row oracle is falsifiable, not vacuous."""
    import shutil
    import os

    from aliyun_emapreduce_datasources_spark.similarity.ivf import ann_ivf_topk
    from aliyun_emapreduce_datasources_spark.similarity.properties import (
        ann_ivf_file_consistency_violations,
    )
    from aliyun_emapreduce_datasources_spark.similarity.score import N_QUERIES

    assert ann_ivf_file_consistency_violations(spark, sf_dir).count() == 0

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    C = train_centroids(emb)
    dst = str(tmp_path / "index")
    write_clustered(emb, C, dst)
    # corrupt: drop the cluster directory holding the most vectors
    file_dir = os.path.join(dst, "file")
    parts = [d for d in os.listdir(file_dir) if d.startswith("cluster=")]
    victim = max(
        parts,
        key=lambda d: sum(
            os.path.getsize(os.path.join(file_dir, d, f))
            for f in os.listdir(os.path.join(file_dir, d))
        ),
    )
    shutil.rmtree(os.path.join(file_dir, victim))
    via_file = ivf_file_search_topk(spark, dst, queries).select(
        "query_id", "rnk", F.col("neighbor_id").alias("file_neighbor")
    )
    in_mem = ann_ivf_topk(emb, queries).select(
        "query_id", "rnk", F.col("neighbor_id").alias("mem_neighbor")
    )
    viol = via_file.join(in_mem, ["query_id", "rnk"], "full_outer").where(
        ~F.col("file_neighbor").eqNullSafe(F.col("mem_neighbor"))
    )
    assert viol.count() > 0


def test_append_grows_index_without_retrain(spark, sf_dir, tmp_path):
    """append_clustered (r09 verdict ask #6): build on the even half,
    append the odd half. The filed quantizer is byte-identical after
    the append (no silent retrain), every vector lands exactly once,
    appended rows bucket under the SAME assignment law, partition
    pruning still holds on the appended layout, and a search of the
    appended index equals the in-memory twin over the full corpus."""
    import os

    from aliyun_emapreduce_datasources_spark.similarity.ivf import (
        append_clustered,
        assign_clusters,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    inc = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    C = train_centroids(base)
    dst = str(tmp_path / "index")
    write_clustered(base, C, dst)
    append_clustered(inc, dst)

    np.testing.assert_array_equal(load_centroids(spark, dst), C)

    file = spark.read.parquet(os.path.join(dst, "file"))
    assert file.count() == emb.count()
    assert file.select("vec_id").distinct().count() == emb.count()

    assigned = {
        r.vec_id: r.cluster for r in assign_clusters(emb, C).collect()
    }
    for r in file.select("vec_id", "cluster").collect():
        assert assigned[r.vec_id] == r.cluster, r.vec_id

    probed = read_clustered(spark, dst, [0, 2])
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "cluster" in plan

    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    via_file = ivf_file_search_topk(spark, dst, queries).toPandas()
    in_mem = ann_ivf_topk(
        emb.select("vec_id", "embedding"), queries, centroids=C
    ).toPandas()
    key = ["query_id", "rnk"]
    a = via_file.sort_values(key).reset_index(drop=True)
    b = in_mem.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for col in a.columns:
        if a[col].dtype.kind == "f":
            np.testing.assert_allclose(a[col], b[col], rtol=1e-12)
        else:
            assert (a[col] == b[col]).all(), col


def test_same_distribution_append_no_drift(spark, sf_dir, tmp_path):
    """Both halves of one corpus: every cluster sits well inside the
    rebuild threshold (the empty-set contract of ann_ivf_drift_check),
    and the report covers every built cluster exactly once."""
    from aliyun_emapreduce_datasources_spark.similarity.ivf import (
        REBUILD_DRIFT_THRESHOLD,
        append_clustered,
        drift_report,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    inc = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    C = train_centroids(base)
    dst = str(tmp_path / "index")
    write_clustered(base, C, dst)
    append_clustered(inc, dst)
    rep = drift_report(spark, dst).toPandas()
    assert len(rep) == len(C)
    assert not rep["drifted"].any(), rep
    # the threshold has real margin on this corpus, not a hair's
    # width: the raw out-of-sample lift is uniform (that's what the
    # median centering cancels), so the CENTERED excess stays well
    # under the cut
    excess = rep["cur_resid"] - rep["build_resid"]
    centered = (excess - excess.median()).max()
    assert centered < REBUILD_DRIFT_THRESHOLD / 2, centered


def test_shifted_append_trips_drift(spark, sf_dir, tmp_path):
    """Mutation side: appending vectors from a genuinely SHIFTED
    distribution (a constant offset pushes every vector toward one
    direction the quantizer never saw) must raise per-cluster mean
    residuals past the threshold — the check is sharp, not vacuous."""
    from aliyun_emapreduce_datasources_spark.similarity.ivf import (
        append_clustered,
        drift_report,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    shifted = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 1).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(3.0)).alias("embedding"),
    )
    C = train_centroids(base)
    dst = str(tmp_path / "index")
    write_clustered(base, C, dst)
    append_clustered(shifted, dst)
    rep = drift_report(spark, dst).toPandas()
    hit = rep[rep["drifted"]]
    assert len(hit) > 0, rep


def test_check_index_lives_under_sparkfiles_root(spark, sf_dir):
    """The consistency check files its scratch index under the
    application's SparkFiles root, which Spark deletes when the context
    stops, and leaves no ``ivf_*`` copy in the system tempdir."""
    import glob
    import os
    import tempfile

    from pyspark import SparkFiles

    from aliyun_emapreduce_datasources_spark.similarity.properties import (
        _scratch_index_dir,
        ann_ivf_file_consistency_violations,
    )

    def tmp_copies():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "ivf_*")))

    before = tmp_copies()
    assert ann_ivf_file_consistency_violations(spark, sf_dir).count() == 0
    dst = _scratch_index_dir(spark, sf_dir, "file_check")
    root = os.path.realpath(SparkFiles.getRootDirectory())
    assert os.path.commonpath([root, os.path.realpath(dst)]) == root
    assert os.path.isdir(os.path.join(dst, "centroids"))
    assert tmp_copies() - before == set()
