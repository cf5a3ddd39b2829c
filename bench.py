"""Benchmark harness (driver contract): runs the engine's headline operators
and prints ONE JSON line.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir for table-backed queries (default sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism (default 32)
  BENCH_DOCS          synthetic corpus size for the rasterization
                      throughput measurements (default 2_000_000)
  BENCH_REPEATS       timed repeats per query, min taken (default 3)
  BENCH_NO_PROBE      "1" skips the throttle probe and the multi-core
                      window controls (no control_* / throttle_* keys)

The rasterization benchmarks run over a synthetic interleaved-document
corpus generated DISTRIBUTED via spark.range + column expressions (never
driver-side pandas), with a 10%-hot-tile skew injection — measuring the
engine exactly where 100 TB behavior is decided: encode → one shuffle →
broadcast join. Results are forced with a noop-style full-column hash
aggregate so column pruning cannot skip work.

``builders`` is the one query registry: ``bench_extra.py`` times, noop-sinks
and plan-dumps the same leaves through it.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from seraster_spark import knn as K  # noqa: E402
from seraster_spark import rasterize as R  # noqa: E402
from seraster_spark import similarity as S  # noqa: E402
from seraster_spark import text as TX  # noqa: E402
from seraster_spark.grid import GridSpec  # noqa: E402
from seraster_spark.io import read_table  # noqa: E402
from seraster_spark.joins import asof_join, asof_join_bucketed  # noqa: E402
from seraster_spark.permutate import permutate_by_rotation  # noqa: E402
from seraster_spark.pointpat import kde_raster, nn_stats, pair_stats  # noqa: E402
from seraster_spark.segments import rasterize_segments  # noqa: E402
from seraster_spark.session import get_spark  # noqa: E402
from seraster_spark.sketch import bloom_filter_build  # noqa: E402
from seraster_spark.vector import (  # noqa: E402
    rasterize_polygons,
    spatial_join,
    spatial_join_corpus,
)

EXTENT_X, EXTENT_Y = 3000.0, 2000.0


def synth_docs(spark, n: int) -> DataFrame:
    """Distributed synthetic corpus: uniform-ish coords from xxhash64 of the
    id, 16 kinds, 10-feature sparse value vector; 10% of docs land in one
    res-100 tile (skew)."""
    base = spark.range(0, n).withColumn("doc_id", F.col("id"))
    hx = F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(3_000_000)) / 1000.0
    hy = F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(2_000_000)) / 1000.0
    hot = F.pmod(F.col("id"), F.lit(10)) == 0
    x = F.when(hot, 1510.0 + F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(80)) / 1.0).otherwise(hx)
    y = F.when(hot, 1010.0 + F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(80)) / 1.0).otherwise(hy)
    kind = F.concat(F.lit("ct"), F.pmod(F.col("id"), F.lit(16)).cast("string"))
    values = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda j: F.struct(
            F.concat(F.lit("g"), j.cast("string")).alias("feature"),
            (F.pmod(F.xxhash64(F.col("id"), j), F.lit(1000)) / 100.0).alias("value"),
        ),
    )
    return base.select(
        "doc_id", x.alias("x"), y.alias("y"), kind.alias("kind"), values.alias("values")
    )


def force(df: DataFrame) -> int:
    """Materialize every output column (hash-all aggregate defeats pruning)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return row["n"]


SPEC_SQ = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=True)
SPEC_HX = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=False)


def _docs_path(n_docs: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"bench_docs_{n_docs}")


def _staged(spark, path: str, make: Callable[[], DataFrame]) -> DataFrame:
    """Write ``make()`` to parquet once (untimed, reused across runs) and
    read it back."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        make().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def builders(spark, sf_dir: str, n_docs: int) -> dict[str, Callable[[], DataFrame]]:
    """The bench query registry: leaf name -> zero-arg callable returning
    the leaf's DataFrame, in timing order. The caller applies the sink
    (``force`` or a noop write); inputs are staged here, untimed."""
    # Stage the synthetic corpus to parquet (untimed): the benchmarks then
    # measure scan + engine compute, as a real pipeline would — and column
    # pruning per query behaves exactly as it does at 100 TB. Higher-order
    # generator expressions are interpreted (not codegen'd) and would
    # otherwise dominate the timings.
    docs = _staged(spark, _docs_path(n_docs), lambda: synth_docs(spark, n_docs))
    out: dict[str, Callable[[], DataFrame]] = {}

    # q1: cell-type raster, square, sum (the flagship path)
    out["raster_square_kind_sum"] = lambda: R.rasterize_cell_type(
        docs, 100.0, fun="sum", spec=SPEC_SQ
    )

    # q2: gene-expression mean (explodes 10 features/doc)
    out["raster_square_value_mean"] = lambda: R.rasterize_gene_expression(
        docs, 100.0, fun="mean", spec=SPEC_SQ
    )

    # q3: hex raster
    out["raster_hex_kind_sum"] = lambda: R.rasterize_cell_type(
        docs, 100.0, fun="sum", spec=SPEC_HX
    )

    # q4: rotation fan-out (4 perms) + common-grid re-raster
    big_spec = GridSpec(-2000.0, -2000.0, 5000.0, 4000.0, 100.0, square=True)
    out["rotation_raster"] = lambda: R.rasterize_cell_type(
        permutate_by_rotation(docs.drop("values"), n_perm=4, origin=(1500.0, 1000.0)),
        100.0,
        fun="sum",
        group_cols=["perm"],
        spec=big_spec,
    )

    # q4b: tile pyramid — two rollup levels derived from tiles (no re-scan)
    def pyramid():
        base = R.assign_tiles(docs.select("doc_id", "x", "y"), SPEC_SQ).groupBy(
            "cell_id"
        ).agg(F.count(F.lit(1)).cast("double").alias("pixelval"))
        l1, s1 = R.rollup_tiles(base, SPEC_SQ, factor=2)
        l2, _ = R.rollup_tiles(l1.select("cell_id", "pixelval"), s1, factor=2)
        return l2

    out["tile_pyramid"] = pyramid

    # q5: salted roster aggregation on the skewed corpus
    out["salted_roster"] = lambda: R.tile_meta(
        R.assign_tiles(docs.select("doc_id", "x", "y"), SPEC_SQ),
        salt_buckets=16,
    ).drop("cellID_list")

    # q5c: segment (trajectory) rasterization — per-kind doc polylines
    # (lead over a kind-partitioned window) clipped to tiles by the
    # Liang-Barsky supercover. The slim segment frame is repartitioned
    # BEFORE the ~17x fan-out: the window's 16-kind output AQE-coalesces
    # to a few partitions and the explode would run on those few cores
    # (measured 51 s vs 21 s). Arrow kernel vs pure-Column pair, same
    # plan otherwise (measured ~5x: no per-candidate JVM row copies).
    def seg_raster(impl):
        w = Window.partitionBy("kind").orderBy("doc_id")
        segs = (
            docs.select(
                "kind",
                "doc_id",
                F.col("x").alias("x0"),
                F.col("y").alias("y0"),
                F.lead("x").over(w).alias("x1"),
                F.lead("y").over(w).alias("y1"),
                F.pmod(F.col("doc_id"), F.lit(1000)).cast("double").alias("val"),
            )
            .filter(F.col("x1").isNotNull())
            .drop("kind", "doc_id")
            .repartition(2 * spark.sparkContext.defaultParallelism)
        )
        return rasterize_segments(segs, SPEC_SQ, value_cols=("val",), impl=impl)

    out["seg_raster"] = lambda: seg_raster("arrow")
    out["seg_raster_column"] = lambda: seg_raster("column")

    # n_docs/40 (at least 1000) synthetic axis-aligned rects; each width
    # and height is 1-8 times ``side``
    def rects(side: float, *extra):
        xa = F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(2800)).cast("double") + 0.5
        ya = F.pmod(F.xxhash64(F.col("id"), F.lit(12)), F.lit(1800)).cast("double") + 0.5
        wdt = (F.pmod(F.xxhash64(F.col("id"), F.lit(13)), F.lit(8)) + 1).cast("double") * side
        hgt = (F.pmod(F.xxhash64(F.col("id"), F.lit(14)), F.lit(8)) + 1).cast("double") * side
        return spark.range(0, max(1000, n_docs // 40)).select(
            F.col("id").alias("poly_id"),
            F.array(xa, xa + wdt, xa + wdt, xa).alias("xs"),
            F.array(ya, ya, ya + hgt, ya + hgt).alias("ys"),
            *extra,
        ).repartition(spark.sparkContext.defaultParallelism)

    # q5d: polygon-corpus coverage raster — 50k synthetic rects (DATA, not
    # driver literals) burned onto the doc grid via the fused-partials
    # kernel; rects take the vectorized closed-form path, so this measures
    # candidate generation + bincount partials + the one tiny shuffle
    out["poly_raster"] = lambda: rasterize_polygons(
        rects(50.0, F.pmod(F.col("id"), F.lit(100)).cast("double").alias("burn")),
        SPEC_SQ,
        ("burn",),
    )

    # q5b: polygon containment spatial join (north-rule flagship): docs ×
    # 2 overlapping polygons via covering-cell equi-join + Arrow PIP
    polys = {
        "A": [(300.0, 200.0), (2600.0, 400.0), (2500.0, 1800.0), (500.0, 1700.0)],
        "B": [(1400.0, 100.0), (2900.0, 900.0), (1500.0, 1900.0)],
    }
    out["spatial_join"] = lambda: spatial_join(
        R.assign_tiles(docs.select("doc_id", "x", "y"), SPEC_SQ), polys, SPEC_SQ
    ).select("doc_id", "poly_id")

    # q5c: corpus↔corpus containment join (the 100 TB parcels×points
    # shape): 500k docs × 50k PARCEL-sized rects (5-40 units) as DATA
    # rows — mapInPandas cover generation, equi-join on cell_id
    # (broadcast vs shuffle pair), grouped Arrow PIP. The join grid must
    # be sized to the polygons, not the analysis raster: on the res-100
    # SPEC_SQ the 651 cells hold ~100+ polys each and candidates explode
    # ~300× (measured: 60 s for 1/10 this workload); res 12.5 keeps
    # polys-per-cell ~O(10) and candidates ~O(10)·docs.
    SPEC_SJ = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 12.5, square=True)

    def sj_corpus(bc):
        docs_sj = (
            docs.select("doc_id", "x", "y")
            .limit(500_000)
            .repartition(spark.sparkContext.defaultParallelism)
        )
        wc = R.assign_tiles(docs_sj, SPEC_SJ)
        return (
            spatial_join_corpus(wc, rects(5.0), SPEC_SJ, broadcast_cover=bc)
            .groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    out["sj_corpus_bcast"] = lambda: sj_corpus(True)
    out["sj_corpus_shuffle"] = lambda: sj_corpus(False)

    # q5d: point-pattern pair statistics (Ripley-K counts + semivariogram)
    # over the full corpus — bucketed 9-neighbor candidate join + one
    # global aggregate. Radii sized to the HOT cluster (10% of docs in an
    # 80x80 box -> ~31 pts/unit^2 at sf0.1): r_max=1 keeps true pairs
    # ~20M and candidates ~60M, dominated by the skewed buckets (the AQE
    # skew-split shape, not the plan's overhead).
    out["pair_stats"] = lambda: pair_stats(
        docs.select("doc_id", "x", "y", F.pmod(F.col("doc_id"), F.lit(997)).alias("val")),
        [0.5, 1.0],
        value_col="val",
        exact_int=False,
    )

    # q5d2: per-point nearest-neighbor stats (empirical G) — same bucket
    # cover as pair_stats but adds the groupBy(id) min: 2M per-point
    # states (one BIGINT each) through a map-side-combining shuffle.
    out["nn_stats"] = lambda: nn_stats(
        docs.select("doc_id", "x", "y"), [0.5, 1.0], exact_int=False
    )

    # q5e: quartic KDE density surface over the full corpus, res-20 grid,
    # h=30 -> fan-out (2h/res+2)^2 = 25 candidates/point (~50M at sf0.1)
    # streaming through map-side partial aggregation into a ~15k-tile
    # shuffle. The hot 80x80 box is NOT a shuffle skew problem: partial
    # agg reduces each task's fan-out to tile cardinality pre-exchange.
    out["kde"] = lambda: kde_raster(
        docs.select("x", "y"), 20, 30, -50, -50,
        nrows=105, ncols=155, exact_int=False,
    )

    # q6: kNN, 500 queries against the full corpus. The kNN grid is
    # DENSITY-MATCHED: res chosen so a tile holds ~4k docs, making the
    # ring-1 probe ~36k candidates (≥k with a ring-1 completeness bound
    # ≈3.5× the expected k-th distance — one round suffices) instead of
    # ~27k candidates/query on the res-100 raster grid (25× less window
    # input at 2M docs; measured ~2.7× faster). Exactness is independent of
    # resolution: the completeness bound + doubling loop guarantees the
    # true top-k at ANY grid.
    res_knn = max(5.0, round(math.sqrt(4 * 10 * EXTENT_X * EXTENT_Y / n_docs), 1))
    spec_knn = GridSpec(-50.0, -50.0, 3050.0, 2050.0, res_knn, square=True)
    queries = (
        spark.range(0, 500)
        .select(
            F.col("id").cast("string").alias("query_id"),
            (F.pmod(F.xxhash64("id"), F.lit(3000000)) / 1000.0).alias("x"),
            (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(2000000)) / 1000.0).alias("y"),
        )
    )
    out["knn_500q"] = lambda: K.knn_join(
        docs.select("doc_id", "x", "y"), queries, 10, spec_knn
    )

    # q6b: as-of join at corpus scale — every sampled doc (10%) matched to
    # the latest earlier doc (by id-as-timestamp) of its kind among a 1/3
    # subset: 2.2M rows through the ONE union+window shuffle on 16 keys
    # (deliberately coarse keys: stresses the per-key window sort)
    out["asof_join"] = lambda: asof_join(
        docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "kind", "x"),
        docs.filter(F.col("doc_id") % 3 == 0).select(
            "kind", "doc_id",
            F.col("doc_id").alias("rid"), F.col("y").alias("v"),
        ),
        on=["kind"],
        ts_col="doc_id",
        right_cols=["rid", "v"],
        tiebreak="rid",
    ).select("doc_id", "kind", "asof_rid", "asof_v")

    # q6c: as-of hot-key escape — 50% of both sides on ONE key. The plain
    # operator serializes the hot key through a single window-sort task;
    # asof_join_bucketed splits it across ~40 time buckets with
    # carry-forward seeds (identical rows, see test_joins parity)
    hot_kind = (
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot"))
        .otherwise(F.col("kind"))
        .alias("kind")
    )
    hot_l = docs.select("doc_id", hot_kind, "x")
    hot_r = docs.filter(F.col("doc_id") % 3 == 0).select(
        hot_kind, "doc_id", F.col("doc_id").alias("rid"), F.col("y").alias("v")
    )
    out["asof_hot_plain"] = lambda: asof_join(
        hot_l, hot_r, on=["kind"], ts_col="doc_id",
        right_cols=["rid", "v"], tiebreak="rid",
    ).select("doc_id", "kind", "asof_rid", "asof_v")
    out["asof_hot_bucketed"] = lambda: asof_join_bucketed(
        hot_l, hot_r, on=["kind"], ts_col="doc_id",
        right_cols=["rid", "v"], bucket=float(max(n_docs // 40, 1)),
        tiebreak="rid",
    ).select("doc_id", "kind", "asof_rid", "asof_v")

    # table-backed ops at sf_dir
    d = read_table(spark, sf_dir, "documents")
    out["dedup_exact"] = lambda: TX.exact_dedup(d).select(
        "doc_id", "dup_group_size", "is_canonical"
    )
    # cap on: the production-default safe configuration (degenerate-bucket
    # guard costs one slim agg + join on the band key)
    out["minhash_lsh"] = lambda: TX.minhash_lsh_candidates(
        d, verify_threshold=0.3, max_bucket_size=100_000
    )
    out["simhash"] = lambda: TX.simhash(d)
    out["token_quality"] = lambda: TX.quality_score(TX.token_count(d)).select(
        "doc_id", "n_tokens", "quality_score"
    )

    e = read_table(spark, sf_dir, "embeddings")
    eq = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out["ann_bruteforce"] = lambda: S.brute_force_topk(e, eq, 10)

    # q8: ANN at corpus scale — 200k×64 synthetic vectors (staged untimed,
    # like the doc corpus; ~1% exact-duplicate pairs seeded so near-dup has
    # real hits). Three entries, same item cardinality:
    #   ann_lsh_bcast    broadcast probe join (query set fits the driver)
    #   ann_lsh_shuffle  bucket co-partitioned shuffle join — the doc↔doc
    #                    100 TB shape added in r4, recorded here so it has
    #                    a measured cost, not just a pytest
    #   cosine_neardup   LSH self-join + Arrow exact-cosine verify
    n_vec, dim = 200_000, 64

    def synth_vecs():
        seed_id = F.when(
            (F.pmod(F.col("id"), F.lit(97)) == 0) & (F.col("id") > 0),
            F.col("id") - 1,
        ).otherwise(F.col("id"))
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.pmod(F.xxhash64(seed_id, j), F.lit(2001)) - 1000.0)
            / 1000.0,
        )
        return spark.range(0, n_vec).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        )

    vecs = _staged(
        spark,
        os.path.join(tempfile.gettempdir(), f"bench_vecs_{n_vec}_{dim}"),
        synth_vecs,
    )
    vq = vecs.filter(F.pmod(F.col("vec_id"), F.lit(200)) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # q7b: incremental ingestion dedup at corpus scale — history = the full
    # 2M-doc corpus (synthetic text keyed by doc_id, ~50% of incoming seen),
    # incoming = a 200k-doc daily batch. Two shapes, identical output:
    #   incr_dedup_antijoin  DISTINCT-hash + anti-join (both sides shuffle)
    #   incr_dedup_bloom     broadcast Bloom word-table probe routes the
    #                        definitely-new majority around the join; the
    #                        word table is staged untimed (the build-once
    #                        reuse-per-batch production shape)
    hist_txt = docs.select(
        "doc_id", F.concat(F.lit("t"), F.col("doc_id").cast("string")).alias("text")
    )
    inc_txt = spark.range(0, 200_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        # even ids replay a historical doc, odd ids are genuinely new
        F.when(
            F.col("id") % 2 == 0, F.concat(F.lit("t"), (F.col("id") * 7 % n_docs).cast("string"))
        ).otherwise(F.concat(F.lit("new"), F.col("id").cast("string"))).alias("text"),
    )
    bloom_bits, bloom_hashes = 1 << 25, 5  # ~16x bits/key at 2M keys
    bloom_words = _staged(
        spark,
        os.path.join(
            tempfile.gettempdir(), f"bench_bloom_{n_docs}_{bloom_bits}_{bloom_hashes}"
        ),
        lambda: bloom_filter_build(
            hist_txt.select(TX.content_hash_expr("text").alias("content_hash")).distinct(),
            F.col("content_hash"),
            bloom_bits,
            bloom_hashes,
        ),
    )
    out["incr_dedup_antijoin"] = lambda: TX.new_documents(inc_txt, hist_txt).select(
        "doc_id", "content_hash"
    )
    out["incr_dedup_bloom"] = lambda: TX.new_documents(
        inc_txt,
        hist_txt,
        method="bloom",
        bloom_words=bloom_words,
        bloom_bits=bloom_bits,
        bloom_hashes=bloom_hashes,
    ).select("doc_id", "content_hash")

    out["ann_lsh_bcast"] = lambda: S.lsh_topk(vecs, vq, 10, dim)
    out["ann_lsh_shuffle"] = lambda: S.lsh_topk(vecs, vq, 10, dim, broadcast_queries=False)
    out["cosine_neardup"] = lambda: S.cosine_near_duplicates(
        vecs,
        threshold=0.95,
        dim=dim,
        # planes scale with the corpus: 16 planes = 65k buckets keeps
        # candidate pairs ~linear (~300k) at 200k vectors; the
        # default 12 would make 4.8M pairs here
        n_planes=16,
        max_bucket_size=100_000,
    )
    return out


def warm_up(spark, n_docs: int) -> None:
    """Untimed warmup over the staged corpus: JIT/codegen/scan-cache so the
    first timed query isn't charged one-time session costs."""
    docs = spark.read.parquet(_docs_path(n_docs))
    force(R.rasterize_cell_type(docs.limit(200_000), 100.0, fun="sum", spec=SPEC_SQ))


def time_leaves(
    spark,
    bs: dict[str, Callable[[], DataFrame]],
    names: Iterable[str],
    sink: Callable[[DataFrame], object],
) -> Iterator[tuple[str, float, object]]:
    """Yield (name, best seconds, sink result) per leaf: the min over
    BENCH_REPEATS runs of ``sink(build())``, DataFrame construction
    included."""
    # 3 repeats, min taken: the shared host throttles in bursts (observed
    # 15x wall variance minutes apart) — two repeats can both land throttled
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    for name in names:
        best, out = None, None
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.time()
            out = sink(bs[name]())
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        yield name, round(best, 3), out


def bench_queries(spark, sf_dir: str, n_docs: int):
    bs = builders(spark, sf_dir, n_docs)
    warm_up(spark, n_docs)
    qs: dict[str, float] = {}
    rows: dict[str, object] = {}
    for name, best, n in time_leaves(spark, bs, bs, force):
        qs[name], rows[name] = best, n
    q1, q2 = qs["raster_square_kind_sum"], qs["raster_square_value_mean"]
    extra = {
        "docs_per_sec_raster_square": round(n_docs / q1, 1),
        "tiles_per_sec_raster_square": round(rows["raster_square_kind_sum"] / q1, 1),
        "triplets_per_sec_value_mean": round(10 * n_docs / q2, 1),
    }
    return qs, extra


def _throttle_probe(max_wait_s: float = 150.0) -> dict:
    """The shared host throttles CPU in bursts (same job measured 15x apart
    minutes apart). Before opening the measurement window, time a fixed
    single-core numpy kernel against its known clean-host cost; if the box
    is in a burst, wait and re-probe (bounded) so the window of record is
    less likely to land inside one. Returns probe telemetry for the JSON
    line — the window still runs regardless, the probe only delays it."""
    import numpy as np

    def probe() -> float:
        a = np.arange(4_000_000, dtype=np.float64)
        t0 = time.time()
        for _ in range(6):
            a = np.sqrt(a * 1.0001 + 1.0)
        return time.time() - t0

    clean_s = 0.10  # measured on this host when un-throttled
    probe()  # warmup: first call pays allocation/page-fault cost (~20x)
    waited = 0.0
    p = probe()
    while p > 2.0 * clean_s and waited < max_wait_s:
        time.sleep(30.0)
        waited += 30.0
        p = probe()
    return {
        "throttle_probe_s": round(p, 4),
        "throttle_probe_clean_s": clean_s,
        "throttle_wait_s": round(waited, 1),
        "throttled_at_start": bool(p > 2.0 * clean_s),
    }


_CONTROL_CLEAN_S = 7.0  # measured clean-host wall for the pinned control
_CONTROL_BAND_X = 1.5  # within 1.5x clean = healthy window


def _mc_control(nproc: int = 32, iters: int = 400) -> float:
    """Pinned MULTI-core host control: wall seconds for `nproc` OS processes
    to each finish a fixed numpy kernel (sin·cos+sqrt over a private 200k
    array, `iters` loops). The r4 lesson: a single-core probe read clean
    (0.094s) while the driver's 32-core window ran ~2x slow — this host's
    throttle (cgroup burst credit) bites only under SUSTAINED all-core
    load, so the control must BE sustained all-core load. Engine-free by
    design: its band never moves when the engine changes. Clean band
    measured 5.9–8.5s at 32 procs on this box."""
    import multiprocessing as mp

    import numpy as np

    nproc = min(nproc, len(os.sched_getaffinity(0)))

    def _burn(q) -> None:
        a = np.random.default_rng(1).uniform(size=200_000)
        for _ in range(iters):
            _ = np.sin(a) * np.cos(a) + np.sqrt(a)
        q.put(1)

    q = mp.Queue()
    ps = [mp.Process(target=_burn, args=(q,)) for _ in range(nproc)]
    t0 = time.time()
    try:
        for p in ps:
            p.start()
        for _ in range(nproc):
            q.get(timeout=600)
        wall = time.time() - t0
    except Exception:
        # a dead/stalled burn process must NOT crash the bench (the END
        # control runs after the full measurement window — losing the JSON
        # artifact there would discard the whole window); report inf =
        # maximally out-of-band
        wall = float("inf")
    finally:
        for p in ps:
            # kill stragglers: leftover burners would poison a retry window
            if p.is_alive():
                p.terminate()
            p.join(timeout=10)
    return wall


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "2000000"))
    probe_info = (
        _throttle_probe() if os.environ.get("BENCH_NO_PROBE") != "1" else {}
    )
    # multi-core control at window START: if the box is in a burst, delay
    # (bounded) rather than record a poisoned window as the round's artifact
    ctl: dict = {}
    if os.environ.get("BENCH_NO_PROBE") != "1":
        waited = 0.0
        c0 = _mc_control()
        while c0 > _CONTROL_BAND_X * _CONTROL_CLEAN_S and waited < 150.0:
            time.sleep(30.0)
            waited += 30.0
            c0 = _mc_control()
        ctl = {
            # inf (control crashed/stalled) -> JSON null, strict-parser safe
            "control_start_s": round(c0, 3) if c0 != float("inf") else None,
            "control_wait_s": round(waited, 1),
            "control_clean_s": _CONTROL_CLEAN_S,
            "control_band_x": _CONTROL_BAND_X,
        }
    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16)
    )
    t0 = time.time()
    qs, extra = bench_queries(spark, sf_dir, n_docs)
    total = round(time.time() - t0, 3)
    # control at window END: a burst that started mid-window shows up here;
    # window_healthy = both controls in band, self-evident in the artifact
    if ctl:
        c1 = _mc_control()
        ctl["control_end_s"] = round(c1, 3) if c1 != float("inf") else None
        band = _CONTROL_BAND_X * _CONTROL_CLEAN_S
        ctl["window_healthy"] = bool(c0 <= band and c1 <= band)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "rasterization_docs_per_sec",
        "value": extra["docs_per_sec_raster_square"],
        "unit": "docs/sec",
        "queries": qs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "total_sec": total,
        "bench_docs": n_docs,
        "cpus": cpus,
        **probe_info,
        **ctl,
        **extra,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
