"""Embedding similarity-search tests vs numpy brute-force oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from seraster_spark import similarity as S

DIM = 16
N = 400


@pytest.fixture(scope="module")
def vecs_pdf():
    """Clustered embeddings (10 centers + small noise) — the regime ANN is
    for; isotropic random data has no meaningful neighbors."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((10, DIM)) * 3.0
    m = (
        centers[rng.integers(0, 10, N)] + rng.standard_normal((N, DIM)) * 0.3
    ).astype(np.float32)
    # inject exact near-dups
    m[N - 1] = m[0]
    m[N - 2] = m[1] + rng.standard_normal(DIM).astype(np.float32) * 0.01
    return m


@pytest.fixture(scope="module")
def items(spark, vecs_pdf):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [(i, [float(v) for v in vecs_pdf[i]]) for i in range(N)]
    return spark.createDataFrame(rows, schema).cache()


def np_topk(vecs, qidx, k):
    q = vecs[qidx].astype(np.float64)
    m = vecs.astype(np.float64)
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(m)), -cos))
    return list(order[:k]), cos


def test_brute_force_topk_matches_numpy(spark, items, vecs_pdf):
    queries = items.filter(F.col("vec_id").isin([0, 5, 17])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.brute_force_topk(items, queries, 5).toPandas()
    for qid in (0, 5, 17):
        grp = got[got["query_id"] == qid].sort_values("rank")
        exp_ids, cos = np_topk(vecs_pdf, qid, 5)
        assert list(grp["vec_id"]) == exp_ids
        np.testing.assert_allclose(
            grp["cosine"].to_numpy(), cos[exp_ids], atol=1e-6
        )


def test_lsh_topk_recall(spark, items, vecs_pdf):
    """LSH with multi-probe recovers most of the true top-5 (recall@5 >= 0.5
    on random gaussian data with 12 planes / 4 probes)."""
    qids = [0, 5, 17, 42, 99]
    queries = items.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.lsh_topk(items, queries, 5, dim=DIM, n_planes=10, n_probes=11).toPandas()
    hits = total = 0
    for qid in qids:
        exp_ids, _ = np_topk(vecs_pdf, qid, 5)
        grp = set(got[got["query_id"] == qid]["vec_id"])
        hits += len(grp & set(exp_ids))
        total += 5
    assert hits / total >= 0.6
    # rank-1 self hit always found (same bucket trivially)
    for qid in qids:
        top1 = got[(got["query_id"] == qid) & (got["rank"] == 1)]["vec_id"].iloc[0]
        assert top1 == min(qid, [i for i in range(N) if (vecs_pdf[i] == vecs_pdf[qid]).all()][0])


def test_cosine_near_duplicates(spark, items):
    dups = S.cosine_near_duplicates(items, threshold=0.99, dim=DIM).toPandas()
    pairs = {(r.id_a, r.id_b) for r in dups.itertuples()}
    assert (0, N - 1) in pairs  # exact copy
    assert (1, N - 2) in pairs  # 1% perturbed copy


def test_cosine_near_dup_bucket_cap(spark):
    """A constant-vector block hashes to ONE bucket (quadratic); the cap
    drops it while a genuine near-identical pair in another bucket
    survives. Planes chosen so the two groups provably bucket apart
    (all-ones dot with plane0 = 0 → bit 0; the 5.0-leading vectors → +4
    → bit 1)."""
    import numpy as np

    planes = np.array(
        [[1.0, -1.0, 0, 0, 0, 0, 0, 0], [0, 0, 0, 0, 0, 0, 0, 1.0]]
    )
    rows = [(i, [1.0] * 8) for i in range(100)]
    rows += [
        (1000, [5.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1001, [5.0, 1.02, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = S.cosine_near_duplicates(
        df, threshold=0.99, dim=8, planes=planes, max_bucket_size=20
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in capped}
    assert found == {(1000, 1001)}
    # uncapped produces the quadratic block
    n = S.cosine_near_duplicates(df, threshold=0.99, dim=8, planes=planes).count()
    assert n == 100 * 99 // 2 + 1


def test_arrow_topk_tie_break_deterministic(spark):
    """Tied cosines must keep the smallest ids (the global tie rule), however
    the items are partitioned."""
    # 30 identical vectors -> all cosines tie; top-3 must be ids 0,1,2
    rows = [(i, [1.0, 0.0]) for i in range(30)]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([("q", [1.0, 0.0])], "query_id string, embedding array<double>")
    got = sorted(
        r["vec_id"] for r in S.brute_force_topk(items.repartition(5), q, 3).collect()
    )
    assert got == [0, 1, 2]


def test_arrow_topk_preserves_dtypes_and_empty_queries(spark):
    items = spark.createDataFrame(
        [("docA", [1.0, 0.0]), ("docB", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    q = spark.createDataFrame([(7, [1.0, 0.0])], "query_id long, embedding array<double>")
    out = S.brute_force_topk(items, q, 1)
    assert out.schema["query_id"].dataType == T.LongType()
    assert out.schema["vec_id"].dataType == T.StringType()
    assert out.schema["cosine"].dataType == T.DoubleType()
    rows = out.collect()
    assert rows[0]["query_id"] == 7          # int preserved, not "7"
    assert rows[0]["vec_id"] == "docA"       # string item ids work
    empty = S.brute_force_topk(items, q.limit(0), 1)
    assert empty.count() == 0
    assert empty.schema == out.schema


def test_similarity_paths_skip_null_embeddings(spark):
    import pandas as pd

    from seraster_spark.similarity import (
        brute_force_topk,
        cosine_near_duplicates,
        ivf_topk,
    )

    items = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame([("q", [1.0, 0.0])], "query_id string, embedding array<double>")
    # the NULL-embedding item scores a NULL cosine, which ranks below every
    # real one (never NaN at the top of the desc order)
    top = brute_force_topk(items, qdf, 2).collect()
    assert {(r["vec_id"], r["cosine"]) for r in top} == {(1, 1.0), (3, 1.0)}
    q = pd.DataFrame({"query_id": ["q"], "embedding": [[1.0, 0.0]]})
    got = ivf_topk(items, q, 2, dim=2, n_centroids=1, sample_size=10).collect()
    assert {r["vec_id"] for r in got} == {1, 3}
    pairs = cosine_near_duplicates(items, threshold=0.9, dim=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}


def test_ivf_dim_mismatch_raises(spark):
    import numpy as np
    import pandas as pd

    from seraster_spark.similarity import ivf_topk

    items = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    q = pd.DataFrame({"query_id": ["q"], "embedding": [[1.0, 0.0]]})
    with pytest.raises(ValueError, match="dim"):
        ivf_topk(items, q, 1, dim=5, centroids=np.zeros((2, 2)))


def test_ivf_training_reproducible_across_partitionings(spark):
    import numpy as np

    from seraster_spark.similarity import train_ivf_centroids

    rng = np.random.default_rng(0)
    rows = [(int(i), [float(x) for x in rng.normal(size=4)]) for i in range(500)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = train_ivf_centroids(d.repartition(2), n_centroids=4, kmeans_iters=2, seed=7)
    b = train_ivf_centroids(d.repartition(11), n_centroids=4, kmeans_iters=2, seed=7)
    # sample membership + init are now partition-invariant (the former
    # df.sample seeded per PARTITION, silently changing the training set);
    # residual delta is float reassociation of partial sums across
    # different partition boundaries — tiny and bounded
    assert np.allclose(a, b, rtol=0, atol=1e-9)
    # and bitwise-identical for a FIXED partitioning
    c = train_ivf_centroids(d.repartition(11), n_centroids=4, kmeans_iters=2, seed=7)
    assert np.array_equal(b, c)


def _kernel_cosines(df, threshold=None):
    out = S._cosine_pairs_map_arrow(df, "a", "b", ["i"], threshold=threshold)
    return {r["i"]: r["cosine"] for r in out.collect()}


def test_as_matrix_rejects_ragged_vectors():
    """Ragged cells must raise, not be silently re-cut: [[1,2,3],[4]] has 4
    elements, which reshape(2, -1) would happily turn into a 2x2 matrix."""
    ok = S._as_matrix(np.array([[1, 2], [3, 4]], dtype=object))
    np.testing.assert_array_equal(ok, [[1.0, 2.0], [3.0, 4.0]])
    ragged = np.empty(2, dtype=object)
    ragged[:] = [[1.0, 2.0, 3.0], [4.0]]
    with pytest.raises(ValueError, match="expected length 3.*found 1 at row 1"):
        S._as_matrix(ragged)


def test_cosine_kernel_integer_vectors_match_numpy_bitwise(spark):
    """The one cosine kernel, on integer-valued vectors (every partial sum
    exact — the oracle regime), equals numpy's cosine BITWISE, in both the
    plain and the threshold branch; ~1e-12 on random floats."""
    rng = np.random.default_rng(3)
    a = rng.integers(-40, 97, (200, 16)).astype(np.float64)
    b = rng.integers(-40, 97, (200, 16)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(200)],
        "i long, a array<double>, b array<double>",
    )
    exp = {
        i: float(np.dot(a[i], b[i]) / (np.sqrt(a[i] @ a[i]) * np.sqrt(b[i] @ b[i])))
        for i in range(200)
    }
    assert _kernel_cosines(df) == exp
    kept = _kernel_cosines(df.repartition(3), threshold=0.25)
    assert kept == {i: c for i, c in exp.items() if c >= 0.25}
    assert 0 < len(kept) < 200

    fa, fb = rng.normal(size=(100, 16)), rng.normal(size=(100, 16))
    fl = spark.createDataFrame(
        [(i, fa[i].tolist(), fb[i].tolist()) for i in range(100)],
        "i long, a array<double>, b array<double>",
    )
    for i, c in _kernel_cosines(fl).items():
        want = np.dot(fa[i], fb[i]) / (np.linalg.norm(fa[i]) * np.linalg.norm(fb[i]))
        assert abs(c - want) < 1e-12


def test_cosine_kernel_survives_ragged_and_empty_vectors(spark):
    """Degenerate rows yield a NULL cosine — never a task failure (np.stack
    on ragged input used to abort the whole scan) and never NaN (which would
    sort above every real cosine in a desc top-k) — and never pass a
    threshold."""
    inf = float("inf")
    rows = [
        (0, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),   # clean -> 1.0
        (1, [1.0, 2.0], [1.0, 2.0, 3.0]),         # mismatched lengths -> NULL
        (2, [], []),                               # empty -> NULL
        (3, [float("nan"), 1.0], [1.0, 1.0]),      # NaN element -> NULL
        (4, None, [1.0]),                          # NULL side -> NULL
        (5, [0.0, 0.0], [1.0, 1.0]),               # zero norm -> NULL
        (6, [inf, 1.0], [1.0, 1.0]),               # inf element -> NULL
        (7, [3.0, 4.0], [4.0, 3.0]),               # clean -> 24/25
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    clean = {0: 1.0, 7: 24.0 / 25.0}
    assert _kernel_cosines(df) == {**{i: None for i in range(8)}, **clean}
    assert _kernel_cosines(df, threshold=-1.0) == clean
    assert _kernel_cosines(df, threshold=0.99) == {0: 1.0}
