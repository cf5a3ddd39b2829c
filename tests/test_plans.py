"""Plan-quality tests — the 100 TB guarantees, asserted on the optimizer
output rather than trusted: column pruning to the scan, broadcast joins on
the small side, whole-stage codegen on the hot path, partition pruning on
the tile sink."""

import os

from pyspark.sql import functions as F

from seraster_spark import rasterize
from seraster_spark.bbox import grid_spec_for
from seraster_spark import knn as K


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_is_column_pruned(spark, docs, tmp_path):
    """Cell-type raster over a parquet table must read only the columns it
    needs — never the heavy spans payload."""
    path = str(tmp_path / "docs_pq")
    docs.write.parquet(path)
    d = spark.read.parquet(path)
    tiles = rasterize.rasterize_cell_type(d, 100.0, fun="sum")
    plan = _physical(tiles)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l or "Scan parquet" in l]
    assert scans, plan
    assert "spans" not in plan.split("== Photon")[0].split("ReadSchema")[-1]
    for l in plan.splitlines():
        if "ReadSchema" in l:
            assert "spans" not in l and "values" not in l, l


def test_knn_join_is_broadcast(spark, docs):
    """The candidate join knn_join builds (ring fan-out via
    _candidate_cells) broadcasts the query side into the points scan."""
    from seraster_spark import expressions as X
    from seraster_spark.fixtures import knn_queries_pdf

    spec = grid_spec_for(docs, 100.0, square=True)
    q = spark.createDataFrame(knn_queries_pdf(10))
    qdf = q.select(
        F.col("query_id").alias("_qid"), F.col("x").alias("_qx"), F.col("y").alias("_qy")
    ).withColumn("_qcell", X.cell_id_expr(F.col("_qx"), F.col("_qy"), spec))
    cand = K._candidate_cells(spark, qdf, spec, 2)
    assert cand.count() == 10 * 25  # 5x5 square ring per query
    pts = rasterize.assign_tiles(docs.select("doc_id", "x", "y"), spec)
    joined = pts.join(F.broadcast(cand), "cell_id")
    assert "BroadcastHashJoin" in _physical(joined)


def test_rasterize_hot_path_is_codegen(spark, docs):
    """Encode + aggregate must run inside whole-stage codegen (no Python
    evaluation nodes in the plan)."""
    tiles = rasterize.rasterize_cell_type(docs, 100.0, fun="sum")
    tiles.collect()  # finalize the AQE plan
    plan = _physical(tiles)
    # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_udf_path_is_arrow_not_row(spark, docs):
    """A numpy-UDF kernel (here the WKT polygonizer) must run in the
    Arrow-batched pandas evaluator, never row-at-a-time Python."""
    from seraster_spark.udfs import wkt_udf

    spec = grid_spec_for(docs, 100.0, square=True)
    t = rasterize.assign_tiles(docs, spec)
    plan = _physical(t.select(wkt_udf(spec)(F.col("cell_id"))))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_tile_sink_partition_pruning(spark, docs, tmp_path):
    """Tiles written partitioned by a coarse key are pruned on read."""
    spec = grid_spec_for(docs, 100.0, square=True)
    tiles = rasterize.rasterize_cell_type(docs, 100.0, fun="sum", spec=spec)
    from seraster_spark import expressions as X

    row, _ = X.unpack_rowcol(F.col("cell_id"))
    out = str(tmp_path / "tiles_part")
    tiles.withColumn("band", F.pmod(row, F.lit(4)).cast("int")).write.partitionBy(
        "band"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("band") == 2)
    plan = _physical(back)
    # the partition predicate must reach the scan node (directory pruning)
    assert "PartitionFilters" in plan and "band" in plan.split("PartitionFilters")[1][:120], plan
    direct = spark.read.parquet(os.path.join(out, "band=2"))
    assert back.count() == direct.count() > 0


def _exchange_schemas(df) -> list[tuple[str, list[str]]]:
    """(header, output column names) for every Exchange node in the plan."""
    out = []

    def walk(node):
        name = node.nodeName()
        if "Exchange" in name:
            fields = [f.name() for f in node.schema().fields()]
            out.append((node.toString().splitlines()[0], fields))
        if name == "AdaptiveSparkPlan":  # AQE wraps the real plan as a member
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_exact_dedup_payload_never_rides_hash_exchange(spark, docs_text):
    """The document payload must not be shuffled by the (skewed) content
    hash: group stats run on a slim (id, hash) projection; text re-attaches
    via the unique-id join only (mirrors test_scan_is_column_pruned for the
    dedup pipeline)."""
    from seraster_spark.text import exact_dedup

    out = exact_dedup(docs_text).select("doc_id", "text", "dup_group_size", "is_canonical")
    for header, fields in _exchange_schemas(out):
        if "content_hash" in header:
            assert "text" not in fields, (header, fields)
    # and the slim exchanges must exist at all (stats groupBy + join)
    assert any("content_hash" in h for h, _ in _exchange_schemas(out))


def test_minhash_band_join_is_slim_and_checkpointed(spark, docs_text):
    """The MinHash band self-join must shuffle only (_id, band, bhash) — the
    shingle arrays stay out of every exchange. Candidate ids are eagerly
    localCheckpoint-ed (lineage cut), so the returned plan reads them from an
    existing RDD and the verify join never re-shuffles shingle sets."""
    from seraster_spark.text import minhash_lsh_candidates

    out = minhash_lsh_candidates(docs_text, verify_threshold=0.0)
    plan = _physical(out)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    # shingle arrays must never ride a SHUFFLE exchange (a BroadcastExchange
    # of the already-joined candidate-pair side is bounded by |pairs| and ok)
    for header, fields in _exchange_schemas(out):
        if "ShuffleExchange" in header or "hashpartitioning" in header:
            assert not any(f in ("_sh", "sh_a", "sh_b") for f in fields), (header, fields)


def test_cosine_near_dup_vectors_never_shuffle(spark):
    """Embedding vectors must not ride the bucket self-join exchange —
    candidate ids shuffle slim; vectors re-attach against the checkpointed
    (broadcastable) pair list."""
    from seraster_spark.similarity import cosine_near_duplicates

    items = spark.range(0, 400).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), j -> CAST((id % 50) * j AS DOUBLE) + 1.0) AS embedding",
    )
    out = cosine_near_duplicates(items, threshold=0.999, dim=8)
    assert out.count() > 0  # id%50 collisions → identical vectors pair up
    for header, fields in _exchange_schemas(out):
        if "ShuffleExchange" in header or "hashpartitioning" in header:
            assert not any(f in ("_vec", "_va", "_vb", "embedding") for f in fields), (
                header,
                fields,
            )


def test_bucketed_tiles_join_without_shuffle(spark, docs):
    """Two rasters written with write_tiles_bucketed (same bucketing on
    cell_id) must join with NO shuffle exchange — the bucket-aware scan
    feeds the SortMergeJoin directly. This is the repeated-tile-join shape
    (raster algebra across snapshots) that makes the one-time bucketed write
    pay for itself at 100 TB."""
    from seraster_spark import io as EIO
    from seraster_spark.bbox import grid_spec_for

    spec = grid_spec_for(docs, 100.0, square=True)
    ct = rasterize.rasterize_cell_type(docs, 100.0, fun="sum", spec=spec)
    a = ct.filter(F.col("kind") == "ct00").select("cell_id", "pixelval")
    b = ct.filter(F.col("kind") == "ct01").select("cell_id", F.col("pixelval").alias("pv_b"))
    EIO.write_tiles_bucketed(a, "t_bkt_a", n_buckets=8)
    EIO.write_tiles_bucketed(b, "t_bkt_b", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "cell_id")
        n = j.count()
        assert n > 0
        plan = _physical(j)
        assert "SortMergeJoin" in plan, plan
        for header, _fields in _exchange_schemas(j):
            raise AssertionError(f"unexpected exchange in bucketed join: {header}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_no_row_python_anywhere_in_driver_surface(spark):
    """input_hint mandate: 'vectorized pandas/Arrow UDFs (no per-row Python)
    throughout'. Sweep EVERY driver queries() entry and assert no
    BatchEvalPython (row-at-a-time Python) node appears in any physical
    plan; ArrowEvalPython / mapInPandas are the sanctioned Python
    boundaries."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        _pytest.skip("driver testdata not present")
    from seraster_spark import driver_queries as DQ

    offenders = []
    for name, fn in DQ.queries().items():
        df = fn(spark, sf_dir)
        plan = _physical(df)
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_group_agg_has_partial_combine(spark, docs):
    """The one shuffle carries partially-aggregated rows (map-side combine):
    physical plan shows HashAggregate below AND above the Exchange."""
    tiles = rasterize.rasterize_cell_type(docs, 100.0, fun="sum")
    plan = _physical(tiles)
    assert "partial_count" in plan


def test_capped_minhash_band_join_stays_slim(spark, docs_text):
    """The degenerate-bucket cap (size aggregate + kept-bucket join) must not
    widen any shuffle: with max_bucket_size set, shingle arrays still never
    ride a shuffle exchange, and the extra exchanges carry only the slim
    (band, bhash[, count]) columns."""
    from seraster_spark.text import minhash_lsh_candidates

    out = minhash_lsh_candidates(docs_text, verify_threshold=0.0, max_bucket_size=1000)
    for header, fields in _exchange_schemas(out):
        if "ShuffleExchange" in header or "hashpartitioning" in header:
            assert not any(f in ("_sh", "sh_a", "sh_b") for f in fields), (header, fields)


def test_knn_done_flag_reuses_rank_exchange(spark):
    """The kNN completeness flag (count/max windows over the rank window's
    partition key) must add NO exchange: exactly one hashpartitioning
    shuffle feeds the whole window stack, and Spark's WindowGroupLimit
    (map-side top-k pushdown) survives."""
    from pyspark.sql import Window as W

    df = spark.range(0, 5000).selectExpr(
        "id AS _pid", "id % 37 AS _qid", "CAST(pmod(hash(id), 1000) AS DOUBLE) AS dist"
    )
    w_q = W.partitionBy("_qid")
    ranked = (
        df.withColumn(
            "rank", F.row_number().over(w_q.orderBy(F.col("dist").asc(), F.col("_pid").asc()))
        )
        .filter(F.col("rank") <= 5)
        .withColumn(
            "_done",
            (F.count(F.lit(1)).over(w_q) >= 5) & (F.max("dist").over(w_q) <= 100.0),
        )
    )
    plan = _physical(ranked)
    assert "WindowGroupLimit" in plan, plan
    shuffles = [
        h for h, _ in _exchange_schemas(ranked)
        if "ShuffleExchange" in h or "hashpartitioning" in h
    ]
    assert len(shuffles) == 1, shuffles


def test_relative_enrichment_no_global_window(spark, docs):
    """The grand total must come from a 1-row aggregate broadcast back in,
    never a Window.partitionBy() (empty partition spec = ALL tiles x labels
    rows serialized through one window task). An empty-partition window
    shows as windowspecdefinition(specifiedwindowframe...) — no partition
    columns before the frame."""
    ct = rasterize.rasterize_cell_type(docs, 100.0, fun="sum")
    re = rasterize.relative_enrichment(ct)
    plan = _physical(re)
    assert "windowspecdefinition(specifiedwindowframe" not in plan, plan
    # the 1-row grand total rides a broadcast nested-loop cross join
    assert "BroadcastNestedLoopJoin" in plan, plan
