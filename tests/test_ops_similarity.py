"""ANN operator tests: brute-force is the ground truth; LSH/IVF are
approximate but must keep the planted neighbors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_parser_spark.ops import similarity as sim


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(200)]
    q = np.array(rows[0][1])
    # plant a near neighbor of vec 0
    rows.append((999, [float(x) for x in q + rng.randn(64) * 0.05]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def query(emb):
    return [float(x) for x in
            emb.filter(F.col("vec_id") == 0).head().embedding]


def test_exact_topk_self_first(emb, query):
    top = sim.cosine_to_query(emb, query, k=3).collect()
    assert top[0].vec_id == 0 and top[0].sim == 1.0
    assert top[1].vec_id == 999 and top[1].sim > 0.95


def test_pandas_bruteforce_matches_exact(emb, query):
    exact = [(r.vec_id, r.sim) for r in
             sim.cosine_to_query(emb, query, k=10).collect()]
    fast = [(r.vec_id, r.sim) for r in
            sim.knn_bruteforce_pandas(emb, query, k=10).collect()]
    assert exact == fast


def test_pandas_bruteforce_deterministic_on_ties(spark, query):
    """Duplicate embeddings straddling the k boundary inside ONE
    partition: the per-partition cut must break float ties by vec_id
    (the global comparator), not by array position — a bare argsort
    kept whichever duplicate happened to come first in the batch."""
    dup = spark.createDataFrame(
        [(int(i), [float(x) for x in query]) for i in (7, 3, 9, 1, 5, 8,
                                                       2, 6, 0, 4)],
        "vec_id bigint, embedding array<double>").coalesce(1)
    got = [r.vec_id for r in
           sim.knn_bruteforce_pandas(dup, query, k=5).collect()]
    assert got == [0, 1, 2, 3, 4]


def test_pandas_bruteforce_near_tie_uses_rounded_key(spark):
    """Two vectors whose sims differ by < 5e-4 round to the same 0.800,
    so the global merge orders them by vec_id. The higher vec_id has the
    higher unrounded sim and both straddle the k boundary in the same
    partition: a cut on the unrounded sims keeps the wrong one. A second
    partition holds the rows below them."""
    def vec(c):
        return [c, float(np.sqrt(1.0 - c * c))]
    rows = [(9, vec(1.0)), (2, vec(0.8004)), (1, vec(0.8001)),
            (3, vec(0.5)), (4, vec(0.4)), (5, vec(0.3))]
    emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                "vec_id bigint, embedding array<double>")
    assert emb.rdd.glom().map(len).collect() == [3, 3]
    got = [(r.vec_id, r.sim) for r in
           sim.knn_bruteforce_pandas(emb, vec(1.0), k=2).collect()]
    assert got == [(9, 1.0), (1, 0.8)]


def test_lsh_probe_keeps_planted_neighbor(emb, query):
    got = [r.vec_id for r in sim.ann_search_lsh(emb, query, k=5).collect()]
    assert got[0] == 0
    assert 999 in got  # 0.95-cosine neighbor shares the bucket or a
    # hamming-1 neighbor of it (radius-1 probe)


def test_ivf_recall(emb, query):
    exact = {r.vec_id for r in sim.cosine_to_query(emb, query, k=5).collect()}
    ivf = {r.vec_id for r in sim.ivf_search(emb, query, k=5,
                                            n_centroids=8,
                                            n_probe=3).collect()}
    assert 0 in ivf and 999 in ivf
    assert len(ivf & exact) >= 3


def test_bucket_histogram_total(emb):
    hist = sim.bucket_histogram(emb).agg(F.sum("n_vecs")).head()[0]
    assert hist == emb.count()


def test_ivf_distributed_fit_recall(emb, query):
    """The fully distributed k-means tier must reach the same recall
    bar as the sampled tier (no driver-side table data involved)."""
    exact = {r.vec_id for r in
             sim.cosine_to_query(emb, query, k=5).collect()}
    ivf = {r.vec_id for r in sim.ivf_search(emb, query, k=5,
                                            distributed_fit=True).collect()}
    assert 0 in ivf and 999 in ivf
    assert len(ivf & exact) >= 3


def test_distributed_centroids_unit_norm(emb):
    C = sim.kmeans_fit_distributed(emb, n_centroids=4, iters=2)
    import numpy as np
    arr = np.array(C)
    assert arr.shape[0] == 4
    norms = np.linalg.norm(arr, axis=1)
    assert np.allclose(norms[norms > 1e-9], 1.0, atol=1e-6)


def test_bucketize_partition_pruned_probe(emb, tmp_path):
    """The bucket-partitioned layout must let a probe read only its
    buckets' directories (partition pruning visible in the plan)."""
    out = str(tmp_path / "bucketed")
    sim.bucketize(emb, out)
    back = emb.sparkSession.read.parquet(out)
    probe = back.filter(back.bucket.isin(3, 7))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("#", " #") or \
        "bucket IN (3,7)" in plan or "PartitionFilters" in plan
    # pruned read returns exactly the probed buckets
    got = {r.bucket for r in probe.select("bucket").distinct().collect()}
    assert got <= {3, 7}
    # roundtrip preserves every vector
    assert back.count() == emb.count()
