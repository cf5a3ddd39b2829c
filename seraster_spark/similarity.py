"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k — broadcast crossJoin + window
top-k. Scale path: random-hyperplane LSH bucketing — signatures via one
Arrow-batched numpy matmul, candidates from an equi-join on bucket id, exact
re-rank only within buckets; multi-probe via Hamming-adjacent buckets.

Exact-cosine evaluation (the verify/re-rank hot path) has ONE kernel,
:func:`_cosine_pairs_map_arrow`: a ``mapInArrow`` numpy pass that reads
vectors straight from the Arrow list buffers. The repo's own measurements
put the interpreted ``zip_with``/``aggregate`` HOF fold at ~46 µs/element —
~8× slower than the vectorized kernel — and at corpus scale the re-rank
touches ~10⁸ candidate pairs × 768-dim vectors. For INTEGER-VALUED vectors
(every driver oracle row) all partial sums are exact, so the kernel's
cosines are bit-identical to any engine's, which is what keeps the oracle
rows green.

Embedding-cosine near-duplicate detection reuses the same machinery with a
threshold instead of top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql import types as T

from .session import materialize, release


def _as_matrix(cells: np.ndarray) -> np.ndarray:
    """(n, dim) float64 matrix from an object array of equal-length numeric
    vectors: np.concatenate's C-level loop over the cells instead of a
    per-row Python stack (measured ~5x less Python overhead per Arrow
    batch); same values as np.stack([np.asarray(v, float64) ...]).
    Ragged input raises: a bare reshape(n, -1) would silently realign rows
    whenever the total element count happens to divide by n."""
    n = len(cells)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    lens = np.fromiter(map(len, cells), dtype=np.int64, count=n)
    bad = np.flatnonzero(lens != lens[0])
    if len(bad):
        raise ValueError(
            f"ragged vectors: expected length {lens[0]} (row 0), "
            f"found {lens[bad[0]]} at row {bad[0]}"
        )
    return np.concatenate(cells).astype(np.float64, copy=False).reshape(n, -1)


def _cosine_pairs_map_arrow(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: list[str],
    threshold: float | None = None,
) -> DataFrame:
    """Fused cosine evaluation as ``mapInArrow``: emits ``keep_cols`` +
    ``cosine`` per input row (rows in input order within each batch).

    Zero-copy: vectors are read straight from the Arrow list offsets + flat
    child buffer instead of being boxed into one numpy object per cell (a
    pandas-UDF kernel measured ~2.6 s of pure conversion overhead on a
    640k-pair verify). Degenerate rows yield a NULL cosine — never NaN,
    which would sort ABOVE every real value in Spark's double ordering and
    poison a descending top-k, and never a task failure: NULL on either
    side, mismatched or zero lengths (a truncated/corrupt embedding must
    not abort a corpus scan), a zero norm, or a non-finite outcome (NaN or
    ±inf elements). With ``threshold`` the kernel also applies
    ``cosine >= threshold`` (NULL never passes — identical to the Column
    filter) so dropped rows never cross back."""
    import pyarrow as pa

    out_schema = T.StructType(
        [pairs.schema[c] for c in keep_cols]
        + [T.StructField("cosine", T.DoubleType())]
    )

    def _list_parts(col):
        # a RecordBatch column can be a slice: offsets are absolute into
        # the child values buffer, so use them as-is (never assume [0]==0)
        offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        vals = col.values.to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        )
        valid = ~np.asarray(col.is_null())
        return offs, vals, valid

    def kernel(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ia = b.schema.get_field_index(a_col)
            ib = b.schema.get_field_index(b_col)
            oa, fa, va_ok = _list_parts(b.column(ia))
            ob, fb, vb_ok = _list_parts(b.column(ib))
            la = oa[1:] - oa[:-1]
            lb = ob[1:] - ob[:-1]
            cos = np.full(n, np.nan, dtype=np.float64)
            ok = va_ok & vb_ok & (la == lb) & (la > 0)
            if ok.any():
                for dim in np.unique(la[ok]):
                    sel = np.flatnonzero(ok & (la == dim))
                    gi = np.arange(dim, dtype=np.int64)[None, :]
                    ma = fa[oa[sel][:, None] + gi]
                    mb = fb[ob[sel][:, None] + gi]
                    num = np.einsum("ij,ij->i", ma, mb)
                    den = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(
                        np.einsum("ij,ij->i", mb, mb)
                    )
                    good = den > 0  # False for NaN dens too
                    sub = np.full(len(sel), np.nan, dtype=np.float64)
                    sub[good] = num[good] / den[good]
                    cos[sel] = sub
            if threshold is not None:
                keep = cos >= threshold  # NaN compares False = NULL semantics
                if not keep.any():
                    continue
                kidx = pa.array(np.flatnonzero(keep))
                arrays = [
                    b.column(b.schema.get_field_index(c)).take(kidx)
                    for c in keep_cols
                ] + [pa.array(cos[keep], type=pa.float64())]
            else:
                arrays = [
                    b.column(b.schema.get_field_index(c)) for c in keep_cols
                ] + [pa.array(cos, mask=~np.isfinite(cos), type=pa.float64())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=list(keep_cols) + ["cosine"]
            )

    return pairs.select(*keep_cols, a_col, b_col).mapInArrow(kernel, out_schema)


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set, crossJoin against
    the items table (embarrassingly parallel scan — no shuffle of the big
    side), window top-k per query. Ties broken by item id. Cosines run on
    the Arrow kernel (see :func:`_cosine_pairs_map_arrow`); the rank<=k
    filter is a WindowGroupLimit, so each task forwards only its local
    top-k per query into the single exchange."""
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    it = items.select(F.col(id_col).alias("_iid"), F.col(vec_col).alias("_ivec"))
    joined = it.crossJoin(F.broadcast(q))
    scored = _cosine_pairs_map_arrow(joined, "_ivec", "_qvec", ["_qid", "_iid"])
    ranked = (
        scored
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col("_iid").asc())
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        F.col("_qid").alias(query_id), F.col("_iid").alias(id_col), "cosine", "rank"
    )


def _centroid_dist2(vec: pd.Series, cent: np.ndarray) -> np.ndarray:
    """Squared euclidean distances (batch, n_centroids) — the ONE centroid
    distance definition: item-list assignment and query probing must use
    the same kernel or IVF recall silently collapses."""
    m = _as_matrix(vec.to_numpy())
    return ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def train_ivf_centroids(
    items: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    kmeans_iters: int = 8,
    seed: int = 7,
    sample_size: int = 2000,
) -> np.ndarray:
    """Cluster-side coarse k-means for IVF list training.

    100 TB shape: the training set is a SEEDED UNIFORM Bernoulli sample
    (``df.sample`` — per-row, unlike ``limit()`` which takes whole leading
    partitions and is not a uniform draw), materialized once
    (``materialize``) so every iteration re-reads the small sample, not the
    corpus. Each k-means iteration is ONE job: an Arrow ``mapInPandas``
    kernel emits per-batch partial sums ``(centroid, count, sum_vec)`` —
    at most n_centroids rows per Arrow batch — and the driver combines
    those tiny partials (only O(n_centroids × dim) floats ever leave the
    executors). Initial centroids are the first ``n_centroids`` distinct
    sampled vectors (sample membership is already a uniform coin flip per
    row). Empty clusters keep their previous centroid.
    """
    vecs = items.select(F.col(vec_col).alias("_v")).filter(F.col("_v").isNotNull())
    n = vecs.count()
    if n == 0:
        raise ValueError("train_ivf_centroids: no vectors to train on")
    frac = 1.0 if n <= sample_size else min(1.0, 1.25 * sample_size / n)
    # hash-threshold sample, NOT df.sample: Spark's Bernoulli sample derives
    # per-partition seeds from the partition index, so membership (and the
    # trained centroids) would change with the input's partitioning
    u = F.pmod(F.xxhash64(F.col("_v"), F.lit(int(seed))), F.lit(1_000_000)) / 1_000_000.0
    train, sampled = materialize(
        vecs if frac >= 1.0 else vecs.filter(u < frac),
        "train_ivf_centroids: sample",
        n=F.count(F.lit(1)),
    )
    if sampled["n"] == 0:  # pathological tiny input + low fraction
        release(train)
        train, _ = materialize(vecs, "train_ivf_centroids: sample")
    init = train.dropDuplicates().orderBy("_v").limit(n_centroids).collect()
    cent = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in init])

    part_schema = T.StructType(
        [
            T.StructField("c", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(kmeans_iters):
        cent_b = cent.copy()  # snapshot shipped in the closure

        def partial(batches, _cent=cent_b):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = _as_matrix(pdf["_v"].to_numpy())
                d = ((m[:, None, :] - _cent[None, :, :]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                rows = []
                for c in np.unique(a):
                    mask = a == c
                    rows.append((int(c), int(mask.sum()), m[mask].sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["c", "n", "s"])

        parts = train.mapInPandas(partial, part_schema).toPandas()
        for c in range(len(cent)):
            sub = parts[parts["c"] == c]
            if len(sub):
                arr = np.stack([np.asarray(s, dtype=np.float64) for s in sub["s"]])
                # canonical combine order: partial-sum ARRIVAL order depends
                # on partitioning, and float addition is order-sensitive —
                # sort partials lexicographically before the fold
                arr = arr[np.lexsort(arr.T[::-1])]
                cent[c] = arr.sum(axis=0) / float(sub["n"].sum())
    release(train)
    return cent


def ivf_topk(
    items: DataFrame,
    queries: DataFrame | pd.DataFrame,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    sample_size: int = 2000,
    seed: int = 7,
    kmeans_iters: int = 8,
    centroids: np.ndarray | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means centroids trained CLUSTER-SIDE
    (seeded uniform sample + mapInPandas partial-sum iterations — see
    :func:`train_ivf_centroids`), items assigned to their nearest centroid
    (one numpy matmul per Arrow batch), queries probe their n_probe nearest
    centroid lists, exact cosine re-rank inside the probed lists only.

    ``queries`` is a DataFrame (query_id, vec_col), so corpus-scale doc↔doc
    ANN is expressible — the query side never materializes on the driver:
    probe lists are assigned by the same Arrow kernel family as the item
    side and exploded in place. Only the centroid matrix (n_centroids × dim
    floats) rides the closure. A small pandas frame is still accepted for
    serving-style calls and is converted, not collected.

    ``broadcast_queries=True`` (default) fits the serving shape: a small
    query set rides a broadcast join, the item scan never shuffles. For
    corpus-scale query sides (doc↔doc ANN) pass False: both sides
    shuffle-join on the probed list id — the co-partitioned equi-join shape
    that survives a 100× scale-up where a broadcast would OOM.

    Pass explicit ``centroids`` (n_centroids × dim) to skip training — e.g.
    integer centroids whose distance comparisons are exact, making list
    assignment reproducible outside numpy (the SQL-oracle variant)."""
    spark = items.sparkSession
    items = items.filter(F.col(vec_col).isNotNull())
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        cent = train_ivf_centroids(
            items,
            vec_col=vec_col,
            n_centroids=n_centroids,
            kmeans_iters=kmeans_iters,
            seed=seed,
            sample_size=sample_size,
        )

    cent_b = cent.copy()

    @F.pandas_udf(T.IntegerType())
    def nearest_centroid(vec: pd.Series) -> pd.Series:
        d = _centroid_dist2(vec, cent_b)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    if dim is not None and cent.shape[1] != dim:
        raise ValueError(
            f"ivf_topk: centroids have dim {cent.shape[1]}, expected {dim}"
        )
    it = items.withColumn("_list", nearest_centroid(F.col(vec_col)))

    if isinstance(queries, pd.DataFrame):
        # drop null vector cells up front (parity with the DataFrame path's
        # isNotNull filter — the normalization below would crash on None)
        qpdf = queries[[query_id, vec_col]].copy()
        qpdf = qpdf[qpdf[vec_col].notna()]
        if not len(qpdf):
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(query_id, T.StringType()),
                        T.StructField(id_col, items.schema[id_col].dataType),
                        T.StructField("cosine", T.DoubleType()),
                        T.StructField("rank", T.IntegerType()),
                    ]
                ),
            )
        # normalize cells (ndarray / list / mixed float widths) to plain
        # float lists so the pandas->Spark conversion is type-stable
        qpdf[vec_col] = [[float(x) for x in v] for v in qpdf[vec_col]]
        queries = spark.createDataFrame(qpdf)

    n_pr = min(n_probe, len(cent_b))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_lists(vec: pd.Series) -> pd.Series:
        d = _centroid_dist2(vec, cent_b)
        p = np.argsort(d, axis=1)[:, :n_pr]
        return pd.Series([row.astype(np.int32).tolist() for row in p])

    q = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(query_id).alias("_qid"),
            F.col(vec_col).cast("array<double>").alias("_qvec"),
        )
        .withColumn("_list", F.explode(probe_lists(F.col("_qvec"))))
    )
    joined = it.join(F.broadcast(q) if broadcast_queries else q, "_list")
    scored = _cosine_pairs_map_arrow(joined, vec_col, "_qvec", ["_qid", id_col])
    # no dedup pass: an item is assigned to exactly ONE list and a query's
    # probe lists are distinct, so a (query, item) pair matches at most once
    ranked = (
        scored
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        F.col("_qid").alias(query_id), id_col, "cosine", "rank"
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_bucket_udf(dim: int, n_planes: int = 16, seed: int = 7, planes: np.ndarray | None = None):
    """Random-hyperplane LSH bucket id (sign-bit signature) — one numpy
    matmul per Arrow batch. Pass explicit ``planes`` (n_planes × dim) to make
    buckets reproducible outside numpy (e.g. integer ±1 planes whose dot
    products are exact — the SQL-oracle variant)."""
    if planes is None:
        planes = _hyperplanes(dim, n_planes, seed)
    else:
        planes = np.asarray(planes, dtype=np.float64)
        n_planes = planes.shape[0]

    @F.pandas_udf(T.LongType())
    def _bucket(vec: pd.Series) -> pd.Series:
        m = _as_matrix(vec.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, n_planes)
        out = np.zeros(len(m), dtype=np.int64)
        for b in range(n_planes):
            out |= signs[:, b].astype(np.int64) << b
        return pd.Series(out)

    return _bucket


def lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_planes: int = 12,
    n_probes: int = 4,
    seed: int = 7,
    planes: np.ndarray | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: bucket both sides by hyperplane signature,
    multi-probe queries into Hamming-1 neighbor buckets (probe list built as
    a literal array — no extra shuffle), exact cosine re-rank inside the
    probed buckets only. NULL-embedding rows are skipped (np.stack inside
    the Arrow bucket kernel would otherwise crash the job).

    ``broadcast_queries=False`` switches the probe join from broadcast to a
    shuffle equi-join on the bucket id — the corpus-scale doc↔doc shape
    (both sides co-partitioned by bucket, no driver-sized assumption about
    the query set)."""
    bucket = lsh_bucket_udf(dim, n_planes, seed, planes=planes)
    if planes is not None:
        n_planes = np.asarray(planes).shape[0]
    it = items.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_iid"), F.col(vec_col).alias("_ivec")
    ).withColumn("bucket", bucket(F.col("_ivec")))
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")
    ).withColumn("bucket0", bucket(F.col("_qvec")))
    probes = [F.col("bucket0")] + [
        F.col("bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(min(n_probes - 1, n_planes))
    ]
    qp = q.withColumn("bucket", F.explode(F.array(*probes))).drop("bucket0")
    joined = it.join(F.broadcast(qp) if broadcast_queries else qp, "bucket")
    scored = _cosine_pairs_map_arrow(joined, "_ivec", "_qvec", ["_qid", "_iid"])
    # no dedup pass before the window: an item owns ONE bucket and the
    # probe buckets of a query are distinct, so a (query, item) pair can
    # match at most once
    ranked = (
        scored
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col("_iid").asc())
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        F.col("_qid").alias(query_id), F.col("_iid").alias(id_col), "cosine", "rank"
    )


def cosine_near_duplicates(
    items: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 7,
    planes: np.ndarray | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH self-bucket-join + exact cosine
    filter. Returns (id_a, id_b, cosine) with id_a < id_b.

    100 TB shape (mirrors the MinHash band join): the bucket self-join
    shuffles ONLY (id, bucket) — embedding vectors never ride the (skewed)
    bucket exchange. Candidate ids materialize eagerly (:func:`materialize`,
    size-known → AQE broadcasts them), and vectors re-attach map-side for
    the exact cosine verification. ``max_bucket_size`` drops degenerate hot
    buckets (e.g. a mass of zero/constant vectors all hashing to one
    signature) before the quadratic self-join — see
    :func:`seraster_spark.text.cap_buckets`; at corpus scale always set it."""
    from .text import cap_buckets

    bucket = lsh_bucket_udf(dim, n_planes, seed, planes=planes)
    it = items.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    )
    # materialize the slim (_id, bucket) frame ONCE: the cap sizes pass and
    # both sides of the self-join would otherwise each re-run the scan +
    # bucket kernel (3 passes over the vectors for one signature)
    slim, _ = materialize(
        it.withColumn("bucket", bucket(F.col("_vec"))).select("_id", "bucket"),
        "cosine_near_duplicates: buckets",
    )
    slim = cap_buckets(slim, ["bucket"], max_bucket_size, "cosine_near_duplicates")
    l, r = slim.alias("l"), slim.alias("r")
    # no dedup pass: each item owns exactly ONE bucket row, so an (a, b)
    # pair can match in at most one bucket
    pairs, _ = materialize(
        l.join(
            r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l._id") < F.col("r._id"))
        ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")),
        "cosine_near_duplicates: candidate pairs",
    )
    j = (
        pairs.join(it.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va")), "id_a")
        .join(it.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb")), "id_b")
    )
    # fused mapInArrow verify: zero per-cell boxing, threshold applied
    # in-kernel so rejected pairs never cross back
    return _cosine_pairs_map_arrow(
        j, "_va", "_vb", ["id_a", "id_b"], threshold=float(threshold)
    )
