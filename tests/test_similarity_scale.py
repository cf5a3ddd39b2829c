"""Exact brute-force top-k vs numpy, and IVF recall against it."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from seraster_spark import similarity as S

DIM = 16
N = 500


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((8, DIM)) * 3.0
    m = (centers[rng.integers(0, 8, N)] + rng.standard_normal((N, DIM)) * 0.3).astype(
        np.float32
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in m[i]]) for i in range(N)], schema
    ).cache()
    return df, m


def _np_topk(m, qidx, k):
    q = m[qidx].astype(np.float64)
    mm = m.astype(np.float64)
    cos = (mm @ q) / (np.linalg.norm(mm, axis=1) * np.linalg.norm(q))
    return list(np.lexsort((np.arange(len(mm)), -cos))[:k])


def test_arrow_topk_matches_numpy(spark, clustered):
    items, m = clustered
    qidx = [0, 7, 42]
    queries = items.filter(F.col("vec_id").isin(qidx)).select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding"
    )
    got = S.brute_force_topk(items, queries, 5).toPandas()
    for i in qidx:
        grp = got[got["query_id"] == str(i)].sort_values("rank")
        assert list(grp["vec_id"]) == _np_topk(m, i, 5)


def test_ivf_topk_recall(spark, clustered):
    items, m = clustered
    qidx = [0, 7, 42, 99, 200]
    qpdf = pd.DataFrame(
        {"query_id": [str(i) for i in qidx], "embedding": [m[i] for i in qidx]}
    )
    got = S.ivf_topk(items, qpdf, 5, dim=DIM, n_centroids=8, n_probe=2).toPandas()
    hits = total = 0
    for i in qidx:
        exp = set(_np_topk(m, i, 5))
        grp = set(got[got["query_id"] == str(i)]["vec_id"])
        hits += len(exp & grp)
        total += 5
    assert hits / total >= 0.8  # clustered data, 2 probes over 8 lists


def test_ivf_trained_distributed_100k_recall(spark):
    """Cluster-side IVF training at 10^5 vectors: seeded uniform sample +
    mapInPandas partial-sum k-means (no limit().toPandas() pull), then the
    trained index reaches >=0.9 recall@5 vs exact brute force on clustered
    data. The corpus is generated DISTRIBUTED (spark.range + expressions)."""
    n = 100_000
    items = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                F.when(F.pmod(j, F.lit(8)) == F.pmod(F.col("id"), F.lit(8)), 100.0)
                .otherwise(1.0)
                + F.pmod(F.xxhash64(F.col("id"), j), F.lit(7)).cast("double")
            ),
        ).alias("embedding"),
    ).localCheckpoint()
    qidx = [0, 3, 11, 42, 77]
    qrows = items.filter(F.col("vec_id").isin(qidx)).collect()
    qpdf = pd.DataFrame(
        {
            "query_id": [str(r["vec_id"]) for r in qrows],
            "embedding": [list(r["embedding"]) for r in qrows],
        }
    )
    exact = S.brute_force_topk(items, spark.createDataFrame(qpdf), 5).toPandas()
    got = S.ivf_topk(
        items, qpdf, 5, dim=DIM, n_centroids=8, n_probe=2,
        sample_size=2000, kmeans_iters=4, seed=11,
    ).toPandas()
    hits = total = 0
    for q in qpdf["query_id"]:
        exp = set(exact[exact["query_id"] == q]["vec_id"])
        grp = set(got[got["query_id"] == q]["vec_id"])
        hits += len(exp & grp)
        total += 5
    assert hits / total >= 0.9


def test_ivf_dataframe_query_side_10k(spark, clustered):
    """Corpus-scale query side: 10k queries as a DataFrame (never
    materialized on the driver) through ivf_topk with the shuffle-join shape
    (broadcast_queries=False). Every query is a replicated item vector, so
    its rank-1 neighbor must be the source item at cosine ~1."""
    items, m = clustered
    reps = spark.range(20).select(F.col("id").alias("rep"))
    queries = items.crossJoin(reps).select(
        (F.col("vec_id") + N * F.col("rep")).alias("query_id"), "embedding"
    )
    got = S.ivf_topk(
        items, queries, 3, dim=DIM, n_centroids=8, n_probe=1,
        broadcast_queries=False,
    )
    assert got.count() == 20 * N * 3
    top1 = got.filter((F.col("rank") == 1) & (F.col("query_id") < N)).toPandas()
    assert len(top1) == N
    assert (top1["query_id"] == top1["vec_id"]).all()
    assert (top1["cosine"] > 0.999999).all()
