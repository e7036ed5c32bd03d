"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (broadcast the query
side, score engine-side, window top-k — the W5 idiom of SURVEY.md).
The scale path is LSH bucketing: random-hyperplane signatures prune
the candidate space so the exact scorer only sees same-bucket pairs.

Scale notes: brute force is O(Q×N) with the query side broadcast —
right for Q ≤ ~10³. The LSH path shuffles on (bucket) — uniform keys —
and its exact re-rank touches only candidates. An IVF variant would
k-means the corpus and probe nearest centroids; the bucket-join
skeleton here is identical, so it plugs in as a different bucketer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) exact top-k by cosine.

    All arithmetic in doubles via engine-side higher-order functions
    (zip_with/aggregate) — whole-stage-codegen'd, no Python. The query
    side is explicitly broadcast; ties break by neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("qv", "cv") / (_norm("qv") * _norm("cv")))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "sim")
    )


def hyperplane_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, table, bucket) random-hyperplane LSH signatures.

    `n_tables` independent hash tables (the standard recall amplifier:
    true neighbors land together in ≥1 table with prob 1-(1-p)^L).
    Plane matrices are generated from a fixed seed inside the UDF —
    identical on every executor without a broadcast round-trip.
    """
    @F.pandas_udf(ArrayType(LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        planes = np.random.RandomState(seed).randn(dim, n_tables * n_planes)
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (m @ planes) > 0  # (batch, n_tables*n_planes)
        signs = signs.reshape(len(m), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int64).tolist())

    return vectors.select(
        F.col(id_col),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("table", "bucket"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 7,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: k-means cells + multi-probe exact re-rank.

    The other classic ANN scale path (vs LSH): partition the corpus into
    `n_cells` k-means cells (pyspark.ml, fitted on the corpus), assign
    each query to its `n_probe` nearest centroids, and run the exact
    scorer only inside probed cells. At 10^9 vectors the cells become
    the physical partitioning (:func:`materialize_ivf_cells` writes
    partitionBy("cell_id") parquet, plan-asserted partition pruning)
    so a probe touches n_probe/n_cells of the data — at the file
    listing, not rows-after-read.

    Recall envelope: on UNIFORM-RANDOM vectors (IVF's worst case — no
    cluster structure) recall@5 at n_cells=16 measured 0.74/0.78/0.86/
    0.90 for n_probe=5/6/7/8 (sf0.1 fixture, bench.py); the default is
    7 so a default call sits at the documented 0.86 envelope, matching
    the catalog query's configuration. On clustered
    real embeddings the probed cells capture the neighborhood and far
    fewer probes reach the same recall; pick n_probe per corpus with
    bench.py's `ann_ivf_recall` as the feedback loop.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = corpus.withColumn(
        "_features", array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="_features").fit(with_vec)
    centers = model.clusterCenters()

    c = model.transform(with_vec).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("prediction").alias("cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )

    # query → n_probe nearest centroids, engine-side (centroids are tiny)
    spark = corpus.sparkSession
    cent_rows = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centers)]
    cent = local_frame(spark, cent_rows, "cell int, center array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    qc = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with("qv", "center", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "cell")
    probes = qc.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= n_probe
    ).select("query_id", "qv", "cell")

    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot("qv", "cv") / (_norm("qv") * _norm("cv")))
        .select("query_id", "neighbor_id", "sim")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "sim")
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, sim) embedding-cosine near-duplicate pairs.

    The dedup-ladder's semantic rung: LSH buckets prune the candidate
    space (same multi-table construction as ANN), exact cosine keeps
    pairs ≥ threshold. id_a < id_b, deduped across tables.
    """
    b = hyperplane_buckets(vectors, n_planes, dim, n_tables=n_tables,
                           id_col=id_col, vec_col=vec_col)
    cand = (
        b.withColumnRenamed(id_col, "id_a")
        .join(b.withColumnRenamed(id_col, "id_b"), ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    v = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    scored = (
        cand.join(v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("sim", _dot("va", "vb") / (_norm("va") * _norm("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    return scored


def embedding_near_dups_exact(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, sim) exact all-pairs embedding-cosine near-dups.

    The brute-force twin of :func:`embedding_near_dups`: O(N²/2) pairs,
    engine-side math only. Correctness baseline for the LSH-pruned path
    (and the oracle-checkable catalog entry) — viable to ~10⁵ vectors;
    beyond that the LSH variant is the plan."""
    v = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", _dot("va", "vb") / (_norm("va") * _norm("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hamming_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: multi-table LSH candidates, exact cosine re-rank.

    Candidates = union over tables of same-(table, bucket) pairs, deduped
    before the (expensive) exact scoring. Recall vs brute force is
    measured in bench.py (`ann_lsh_recall`); n_planes/n_tables trade
    candidate volume against recall.

    ``hamming_probes`` > 0 enables MULTIPROBE on the query side: each
    query additionally probes the buckets obtained by flipping its
    first ``hamming_probes`` signature bits (the Hamming-1 ball —
    near-boundary neighbors land there with the highest probability,
    the standard multiprobe observation). Only the QUERY fan-out grows
    (×(1+probes), queries are the broadcast-small side); the corpus
    index is untouched — the cheap way to buy recall without more
    tables or a bigger index.
    """
    cb = hyperplane_buckets(corpus, n_planes, dim, n_tables=n_tables,
                            id_col=id_col, vec_col=vec_col)
    qb = hyperplane_buckets(queries, n_planes, dim, n_tables=n_tables,
                            id_col=id_col, vec_col=vec_col)
    if hamming_probes:
        flips = [
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(min(hamming_probes, n_planes))
        ]
        qb = qb.select(
            id_col,
            "table",
            F.explode(F.array_union(F.array(F.col("bucket")), F.array(*flips))).alias(
                "bucket"
            ),
        )
    cand = (
        cb.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(qb.withColumnRenamed(id_col, "query_id")), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("sim", _dot("qv", "cv") / (_norm("qv") * _norm("cv")))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "sim")
    )


def materialize_ivf_cells(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Write the corpus as an IVF-cell-partitioned parquet table
    (`partitionBy("cell_id")`) and return the centroids.

    This is the physical layout the ivf_topk docstring promises at
    scale: with cells as partition directories, a probe query's
    `cell_id IN (...)` filter becomes PARTITION PRUNING — the scan
    reads n_probe/n_cells of the files, not rows-after-read. At 10^9
    vectors this is the difference between touching ~44% of the data
    and touching ~44% of the *file listing*. Plan-asserted in
    tests/test_dedup_similarity.py (PartitionFilters on the scan).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = corpus.withColumn(
        "_features",
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="_features").fit(with_vec)
    assigned = model.transform(with_vec).select(
        id_col, vec_col, F.col("prediction").alias("cell_id")
    )
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(path)
    return [[float(x) for x in ctr] for ctr in model.clusterCenters()]
