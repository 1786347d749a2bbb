"""Approximate-nearest-neighbor search over an embedding column.

Three tiers, slowest-exact to fastest-approximate:

* ``cosine_to_query`` — brute-force scan against one query vector:
  a narrow map (no shuffle at all), the correctness baseline. At
  100 TB this is one pass over the embeddings table per query —
  fine for batch scoring, wrong for interactive top-k.
* ``ann_search_lsh`` — sign-LSH bucketing: probe only buckets within
  a hamming radius of the query's bucket. Bucket assignment is
  computed map-side; the scan prunes with a bucket predicate that
  Catalyst pushes to the parquet row-group level if the table is
  written partitioned/sorted by bucket (``bucketize`` writes that
  layout).
* ``ivf_search`` — IVF-style: k-means-lite centroids (deterministic
  seeded sample + fixed Lloyd iterations, all DataFrame ops), assign
  each vector to its nearest centroid at write time, probe the
  ``n_probe`` nearest centroids at query time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from document_parser_spark.ops.dedup import SIGN_LSH_DIMS, _cosine, sign_bucket

ANN_QUERY_THRESHOLD = 0.25


def cosine_to_query(emb: DataFrame, query: list[float],
                    threshold: float | None = None,
                    k: int | None = None) -> DataFrame:
    """Exact cosine of every vector vs a literal query vector.
    -> (vec_id, sim) filtered by threshold and/or top-k."""
    q = F.array(*[F.lit(float(x)) for x in query])
    out = emb.select("vec_id",
                     F.round(_cosine(F.col("embedding"), q), 3).alias("sim"))
    if threshold is not None:
        out = out.filter(F.col("sim") >= threshold)
    if k is not None:
        out = out.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    return out


def bucketize(emb: DataFrame, out_dir: str,
              dims: tuple[int, ...] = SIGN_LSH_DIMS) -> None:
    """Write the embeddings table PARTITIONED BY its sign-LSH bucket:
    ``ann_search_lsh``-style probes over the written layout become
    partition-pruned scans (only the probed buckets' directories are
    read — no row even enters the filter). The write itself is one
    hash shuffle on the bucket key."""
    (emb.withColumn("bucket", sign_bucket(F.col("embedding"), dims))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(out_dir))


def bucket_histogram(emb: DataFrame,
                     dims: tuple[int, ...] = SIGN_LSH_DIMS) -> DataFrame:
    """(bucket, n_vecs) — the LSH partition layout diagnostic; a
    skewed histogram here means a skewed ANN probe later."""
    return (
        emb.select(sign_bucket(F.col("embedding"), dims).alias("bucket"))
        .groupBy("bucket").agg(F.count("*").cast("long").alias("n_vecs"))
    )


def ann_search_lsh(emb: DataFrame, query: list[float], k: int = 10,
                   dims: tuple[int, ...] = SIGN_LSH_DIMS,
                   hamming_radius: int = 1) -> DataFrame:
    """Probe only buckets within hamming_radius of the query bucket,
    then exact cosine + top-k inside the candidate set."""
    qbits = sum((1 << i) for i, d in enumerate(dims)
                if float(query[d]) >= 0.0)
    probe = [qbits]
    if hamming_radius >= 1:
        probe += [qbits ^ (1 << i) for i in range(len(dims))]
    if hamming_radius >= 2:
        probe += [qbits ^ (1 << i) ^ (1 << j)
                  for i in range(len(dims)) for j in range(i + 1, len(dims))]
    cand = emb.filter(
        sign_bucket(F.col("embedding"), dims).isin(*probe))
    return cosine_to_query(cand, query, k=k)


def _kmeans_centroids(emb: DataFrame, n_centroids: int,
                      iters: int = 3) -> list[list[float]]:
    """Deterministic Lloyd's on a seeded driver-side sample. The
    sample is small (n_centroids * 50 rows max) — only centroids ever
    reach the driver, never the table. The hash-range FILTER prunes at
    the scan (a pushable predicate) instead of hashing + ordering every
    row the way an orderBy(hash).limit sample would; the residual
    orderBy runs on the pre-pruned ~2x-target subset only."""
    target = n_centroids * 50
    hk = F.pmod(F.xxhash64("vec_id"), F.lit(9973))
    sample_df = (emb.select("vec_id", "embedding", hk.alias("_hk"))
                 .filter(F.col("_hk") < F.lit(9973)))
    # adaptive range: widen until the target is met (tiny tables keep
    # everything; big tables scan-prune to ~2x the target)
    n_total = emb.select(F.count("*")).first()[0]
    if n_total > target:
        cut = max(1, int(9973 * min(1.0, 2.0 * target / n_total)))
        sample_df = sample_df.filter(F.col("_hk") < cut)
    sample = (sample_df.orderBy("_hk", "vec_id").limit(target)
              .drop("_hk").collect())
    X = np.array([r.embedding for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return [[float(x) for x in row] for row in C]


def kmeans_fit_distributed(emb: DataFrame, n_centroids: int,
                           iters: int = 3) -> list[list[float]]:
    """Fully distributed Lloyd's: assignment is the Arrow-vectorized
    ``ivf_assign`` over the WHOLE table, and the centroid update is a
    posexplode + groupBy(list, dim) mean whose shuffle carries only
    (list, dim, partial-sum) triples (map-side combined); exactly
    k*dim aggregated rows reach the driver per iteration. This is the
    10^12-vector index-build path — nothing driver-side scales with
    the table, unlike the sampled ``_kmeans_centroids`` tier (which
    remains the cheap small-corpus default).

    Init: deterministic hash-ordered first-k rows (scan work only).
    Empty clusters keep their previous centroid (same rule as the
    sampled tier)."""
    first = (emb.select("embedding",
                        F.pmod(F.xxhash64("vec_id"), F.lit(9973))
                        .alias("_hk"), "vec_id")
             .orderBy("_hk", "vec_id").limit(n_centroids).collect())
    C = np.array([r.embedding for r in first], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        assigned = ivf_assign(emb, [[float(x) for x in row] for row in C])
        sums = (assigned
                .select("ivf_list",
                        F.posexplode("embedding").alias("dim", "v"))
                .groupBy("ivf_list", "dim")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect())
        newC = C.copy()
        counts = {}
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r.ivf_list, np.zeros(C.shape[1]))[r.dim] = r.s
            counts[r.ivf_list] = r.n
        for li, vec in acc.items():
            v = vec / max(counts[li], 1)
            norm = np.linalg.norm(v)
            if norm > 1e-12:
                newC[li] = v / norm
        C = newC
    return [[float(x) for x in row] for row in C]


def ivf_assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF list id).

    Arrow-vectorized pandas UDF: the centroid matrix rides into each
    Python worker as a closure (the broadcast-small-side pattern) and
    assignment is one numpy matmul per batch. A column-expression
    formulation (N cosine columns + N-deep CASE argmax) is a trap:
    Catalyst inlines the projections into the CASE chain and the
    expression tree goes exponential in N.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        M = np.array(vecs.tolist(), dtype=np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(M @ C.T, axis=1).astype(np.int32))

    return emb.select("vec_id", "embedding",
                      assign("embedding").alias("ivf_list"))


def ivf_search(emb: DataFrame, query: list[float], k: int = 10,
               n_centroids: int = 16, n_probe: int = 4,
               distributed_fit: bool = False) -> DataFrame:
    """IVF probe: nearest ``n_probe`` centroids to the query, exact
    cosine within those lists only. ``distributed_fit=True`` builds
    centroids with the fully distributed k-means (the at-scale path);
    the default samples to the driver (cheap for small corpora)."""
    if distributed_fit:
        centroids = kmeans_fit_distributed(emb, n_centroids)
    else:
        centroids = _kmeans_centroids(emb, n_centroids)
    q = np.array(query, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    C = np.array(centroids)
    probe = list(np.argsort(-(C @ q))[:n_probe])
    assigned = ivf_assign(emb, centroids)
    cand = assigned.filter(F.col("ivf_list").isin(*[int(p) for p in probe]))
    return cosine_to_query(cand.select("vec_id", "embedding"), query, k=k)


def knn_bruteforce_pandas(emb: DataFrame, query: list[float],
                          k: int = 10) -> DataFrame:
    """Arrow-vectorized brute-force variant: per-batch numpy matmul +
    per-partition top-k, then a global top-k over <= partitions*k
    rows. Demonstrates the map-side-combine pattern for top-k (the
    driver never sees more than k rows per partition)."""
    qv = np.asarray(query, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)

    def score(batches):
        for pdf in batches:
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(M, axis=1), 1e-12)
            sims = (M @ qv) / norms
            # cut on the global merge's key, (sim rounded to 3 places
            # desc, vec_id asc): any other order can drop, at a tie or
            # a near-tie that rounds equal, the row the global top-k
            # keeps
            sims = np.round(sims, 3)
            top = np.lexsort((pdf["vec_id"].values, -sims))[:k]
            yield pd.DataFrame({"vec_id": pdf["vec_id"].iloc[top].values,
                                "sim": sims[top]})

    partial = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id bigint, sim double")
    return partial.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
