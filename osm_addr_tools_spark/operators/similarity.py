"""Similarity search over embedding columns (driver mandate): brute-force
cosine top-k as the exactness baseline, and two scale paths — random-
hyperplane LSH bucketing and IVF (coarse-quantizer) partitioning.

Spark-first shape: the vector math is Column expressions (zip_with /
aggregate — JVM-side, codegen) wherever possible; only the hyperplane
projection and centroid assignment are Arrow-batched NumPy UDFs (matrix
multiply per batch — the textbook vectorized-UDF case).

At 10^12-row scale the LSH/IVF variants turn ANN into an equi-join on the
bucket key: candidates shuffle only within buckets, brute force never
leaves the small query side (broadcast).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a, b):
    """Cosine similarity as a pure Column expression; NULL (never NaN, and
    never an ANSI DIVIDE_BY_ZERO) when either vector has zero norm —
    cosine is undefined there, and a null sim falls out of every
    ``sim >= threshold`` filter deterministically (ADVICE r5: Spark
    treats NaN as LARGER than any number in comparisons, so a NaN sim
    would silently PASS a threshold filter)."""
    denom = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(denom > 0, _dot(a, b) / denom)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "vec_id",
    c_id: str = "cand_id",
    q_vec: str = "q_emb",
    c_vec: str = "c_emb",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side, scan candidates
    once, window-rank. Ties broken on candidate id."""
    pairs = candidates.crossJoin(F.broadcast(queries)).withColumn(
        "sim", cosine_col(F.col(q_vec), F.col(c_vec))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(q_id, c_id, F.col("sim"))
    )


def hyperplane_bucket_udf(dim: int, n_planes: int = 12, seed: int = 42):
    """Random-hyperplane LSH: sign bits of R·v packed into an int bucket.
    One matrix multiply per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))

    @pandas_udf("long")
    def bucket(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy())
        bits = (m.astype(np.float64) @ planes) > 0
        vals = (bits * (1 << np.arange(n_planes))).sum(axis=1)
        return pd.Series(vals.astype(np.int64))

    # optimizer fence: the bucket equi-join otherwise pushes inferred
    # isnotnull(_bucket) below the projection and evaluates the matrix
    # multiply twice (guide §4.4; kernel itself is deterministic)
    return bucket.asNondeterministic()


def lsh_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 10,
    n_probes: int = 1,
    q_id: str = "vec_id",
    c_id: str = "cand_id",
    q_vec: str = "q_emb",
    c_vec: str = "c_emb",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: equi-join on the hyperplane bucket
    (n_probes>1 additionally probes buckets at hamming distance 1 —
    multi-probe recall boost without more hyperplanes).
    """
    bq = hyperplane_bucket_udf(dim, n_planes, seed)
    bc = hyperplane_bucket_udf(dim, n_planes, seed)
    qb = queries.withColumn("_bucket", bq(F.col(q_vec)))
    if n_probes > 1:
        flips = F.array(
            F.col("_bucket"),
            *[
                F.col("_bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(min(n_planes, n_probes - 1))
            ],
        )
        qb = qb.withColumn("_bucket", F.explode(flips))
    cb = candidates.withColumn("_bucket", bc(F.col(c_vec)))
    pairs = qb.join(cb, "_bucket")
    pairs = pairs.withColumn("sim", cosine_col(F.col(q_vec), F.col(c_vec)))
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        pairs.dropDuplicates([q_id, c_id])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(q_id, c_id, "sim")
    )


def hyperplane_bands_udf(dim: int, n_planes: int, bands: int, seed: int):
    """All ``bands`` hyperplane buckets in ONE Arrow pass: band b uses an
    independent plane set seeded ``seed + b``; returns array<long> indexed
    by band (posexplode at the call site). One batched matrix multiply
    against the (dim × bands·n_planes) stacked planes — b× fewer UDF
    passes over the corpus than calling hyperplane_bucket_udf per band."""
    planes = np.concatenate(
        [
            np.random.default_rng(seed + b).standard_normal((dim, n_planes))
            for b in range(bands)
        ],
        axis=1,
    )
    weights = 1 << np.arange(n_planes)

    @pandas_udf("array<long>")
    def buckets(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        bits = (m @ planes) > 0  # (n, bands*n_planes)
        per_band = bits.reshape(len(m), bands, n_planes)
        vals = (per_band * weights).sum(axis=2).astype(np.int64)
        return pd.Series([row.tolist() for row in vals])

    # see hyperplane_bucket_udf: fence against duplicate evaluation
    return buckets.asNondeterministic()


def lsh_semantic_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 97,
) -> DataFrame:
    """SEMANTIC near-duplicate pairs (a < b, cosine ≥ threshold) over one
    embedding table — the candidate generator for embedding-based dedup
    (pairs → connected_components → min-id retention, the same composition
    as the MinHash families in operators.dedup).

    Banded hyperplane LSH: ``bands`` independent plane sets; two vectors
    are candidates iff ALL ``n_planes`` sign bits agree in ≥1 band (the
    cosine analog of MinHash banding — more bands raise recall, more
    planes per band cut candidates). Scale shape mirrors simhash_pairs:
    candidates travel as bare (band, bucket, id) through the equi-join,
    embeddings REJOIN by id only for the exact cosine verify, and the
    verify itself is JVM Column math (zip_with/aggregate).

    Zero-norm vectors (ADVICE r5): every all-zero vector gets identical
    sign bits, so they'd all collide into ONE bucket in EVERY band —
    O(z²) candidate blowup — and their cosine is undefined (NULL under
    cosine_col), so they'd then silently fail the threshold and never
    dedup despite being byte-identical duplicates of one another. They
    are therefore EXCLUDED from banding and linked exactly instead: a
    STAR to the minimum zero-norm id (O(z) pairs, sim = 1.0 by the
    exact-duplicate convention), which connected_components collapses to
    the same single group an all-pairs clique would."""
    allv = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    nz = _dot(F.col("_v"), F.col("_v")) > 0
    ids = allv.where(nz)
    zeros = allv.where(~nz).select("_id")
    zmin = zeros.agg(F.min("_id").alias("a"))
    zero_pairs = (
        zeros.select(F.col("_id").alias("b"))
        .crossJoin(F.broadcast(zmin))  # 1-row build side, lazy (no collect)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("sim"))
    )
    bu = hyperplane_bands_udf(dim, n_planes, bands, seed)
    keyed = ids.select(
        "_id", F.posexplode(bu(F.col("_v"))).alias("_band", "_bucket")
    )
    lhs = keyed.select(F.col("_id").alias("a"), "_band", "_bucket")
    rhs = keyed.select(F.col("_id").alias("b"), "_band", "_bucket")
    cand = lhs.join(rhs.hint("shuffle_hash"), ["_band", "_bucket"])
    pairs = (
        cand.where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    va = ids.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vb = ids.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    verified = (
        pairs.join(va.hint("shuffle_hash"), "a")
        .join(vb.hint("shuffle_hash"), "b")
        .withColumn("sim", cosine_col(F.col("_va"), F.col("_vb")))
        .where(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )
    return verified.unionByName(zero_pairs)


def kmeans_centroids(vectors: np.ndarray, n_centroids: int, iters: int = 8, seed: int = 42):
    """Tiny deterministic Lloyd's k-means for the IVF coarse quantizer
    (driver-side on a SAMPLE — the only non-distributed step, bounded)."""
    rng = np.random.default_rng(seed)
    cent = vectors[rng.choice(len(vectors), size=n_centroids, replace=False)].astype(
        np.float64
    )
    for _ in range(iters):
        d = ((vectors[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            pts = vectors[assign == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    return cent


def centroid_assign_udf(centroids: np.ndarray, n_probe: int = 1):
    cent = centroids.astype(np.float64)

    @pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    # see hyperplane_bucket_udf: fence against duplicate evaluation
    return assign.asNondeterministic()


def ivf_ann_topk(
    spark,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 3,
    sample: int = 2000,
    q_id: str = "vec_id",
    c_id: str = "cand_id",
    q_vec: str = "q_emb",
    c_vec: str = "c_emb",
    seed: int = 42,
) -> DataFrame:
    """IVF: train a coarse quantizer on a bounded candidate sample, assign
    candidates to their nearest centroid (1 list each), probe the query's
    ``n_probe`` nearest lists — candidate generation is an equi-join on the
    list id. The sample is the first ``sample`` candidates BY ID — a bare
    ``limit`` picks partition-order rows, which is not reproducible across
    layouts; ordering makes the quantizer (and the oracle parity) a pure
    function of the data."""
    samp = np.stack(
        [r[0] for r in candidates.select(c_vec, c_id).orderBy(c_id).limit(sample).collect()]
    )
    cent = kmeans_centroids(samp, n_centroids, seed=seed)
    c_assign = centroid_assign_udf(cent, 1)
    q_assign = centroid_assign_udf(cent, n_probe)
    cb = candidates.withColumn("_list", c_assign(F.col(c_vec))[0])
    qb = queries.withColumn("_list", F.explode(q_assign(F.col(q_vec))))
    pairs = qb.join(cb, "_list")
    pairs = pairs.withColumn("sim", cosine_col(F.col(q_vec), F.col(c_vec)))
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        pairs.dropDuplicates([q_id, c_id])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(q_id, c_id, "sim")
    )
