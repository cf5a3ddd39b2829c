"""Plan-quality tests — the 100 TB guarantees, asserted on the optimizer
output rather than trusted: column pruning to the scan, broadcast joins on
the small side, whole-stage codegen on the hot path, partition pruning on
the tile sink — plus the driver budgets: Spark jobs per call, py4j round
trips per plan build, and the checkpoints an operator leaves persisted."""

import os
import threading
import uuid

import numpy as np
import pytest
from py4j.java_gateway import GatewayClient
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
    ).withColumn("_qcell", F.expr(X.cell_id_sql("`_qx`", "`_qy`", spec)))
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

    row, _ = X.unpack_rowcol("cell_id")
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


@pytest.mark.parametrize("op", ["gene_expression", "cell_type_roster"])
def test_raster_tile_meta_is_broadcast(spark, docs, op):
    """The per-tile meta side (num_cell, roster) joins by broadcast: tiles
    are far fewer than docs, so the doc-side aggregate never shuffles for
    the join."""
    if op == "gene_expression":
        out = rasterize.rasterize_gene_expression(docs, 100.0, fun="mean")
    else:
        out = rasterize.rasterize_cell_type(docs, 100.0, fun="sum", collect_roster=True)
    assert "BroadcastHashJoin" in _physical(out)
    assert any(
        "BroadcastExchange" in h and "num_cell" in fields for h, fields in _exchange_schemas(out)
    ), _exchange_schemas(out)


def test_deterministic_raster_stays_in_the_jvm(spark, docs):
    """The bit-reproducible raster sums with a JVM ordered fold: no row of
    it crosses into Python."""
    out = rasterize.rasterize_gene_expression_deterministic(docs, 100.0, fun="mean")
    plan = _physical(out)
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


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


# ---------------------------------------------------------------------------
# driver budgets: Spark jobs per call and py4j round trips per plan build


@pytest.fixture(scope="module")
def docs_root(docs, tmp_path_factory):
    """The docs fixture as a Spark-written parquet table under ``root``."""
    root = str(tmp_path_factory.mktemp("budget"))
    docs.write.parquet(os.path.join(root, "documents.parquet"))
    return root


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"budget_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _round_trips(fn) -> int:
    """Python→JVM (py4j) commands ``fn`` sends from this thread. py4j's
    finalizer thread sends the object deletes, asynchronously, so the
    backlog of earlier tests is not counted."""
    n = 0
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counted(self, *args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted
    try:
        fn()
    finally:
        GatewayClient.send_command = send
    return n


def test_read_table_runs_no_job(spark, docs_root):
    """The footer schema replaces parquet schema inference: reading a
    Spark-written table and resolving its schema runs no Spark job."""
    from seraster_spark import io as sio

    schema, n = _jobs(spark, lambda: sio.read_table(spark, docs_root, "documents").schema)
    assert n == 0
    assert "spans" in schema.fieldNames()


@pytest.mark.parametrize("square", [True, False])
def test_forced_rasterize_cell_type_runs_three_jobs(spark, docs_root, square):
    """Read + cell-type raster, forced: the two exchanges' stages plus the
    result stage, and no schema-inference job."""
    from seraster_spark import io as sio
    from seraster_spark.grid import GridSpec

    spec = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=square)

    def run():
        d = sio.read_table(spark, docs_root, "documents")
        return rasterize.rasterize_cell_type(d, 100.0, fun="sum", spec=spec).localCheckpoint(
            eager=True
        )

    out, n = _jobs(spark, run)
    assert n == 3
    assert out.agg(F.sum("pixelval")).first()[0] == 2000.0


# py4j round-trip ceiling for building each operator's plan over a
# read_table DataFrame. Counted this way, the builds take 4 / 44 / 44 / 85
# / 68 / 38 round trips (in the order below); built from Column operators
# and withColumn chains they took 407 / 862 / 1155 / 972 / 631 / 587.
_BUILD_CEILINGS = {
    "assign_tiles": 30,
    "rasterize_cell_type": 250,
    "rasterize_cell_type_hex": 250,
    "rasterize_gene_expression": 500,
    "rollup_tiles": 100,
    "permutate_by_rotation": 200,
}


@pytest.mark.parametrize("op", sorted(_BUILD_CEILINGS))
def test_operator_build_round_trips(spark, docs_root, op):
    from seraster_spark import io as sio
    from seraster_spark.grid import GridSpec
    from seraster_spark.permutate import permutate_by_rotation

    sq = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=True)
    hx = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=False)
    d = sio.read_table(spark, docs_root, "documents")
    tiles = rasterize.rasterize_cell_type(d, 100.0, fun="sum", spec=sq)
    build = {
        "assign_tiles": lambda: rasterize.assign_tiles(d, sq),
        "rasterize_cell_type": lambda: rasterize.rasterize_cell_type(d, 100.0, spec=sq),
        "rasterize_cell_type_hex": lambda: rasterize.rasterize_cell_type(d, 100.0, spec=hx),
        "rasterize_gene_expression": lambda: rasterize.rasterize_gene_expression(
            d, 100.0, fun="mean", spec=sq
        ),
        "rollup_tiles": lambda: rasterize.rollup_tiles(tiles, sq, 2, keys=["kind"]),
        "permutate_by_rotation": lambda: permutate_by_rotation(
            d.select("doc_id", "x", "y", "kind"), n_perm=4, origin=(1500.0, 1000.0)
        ),
    }[op]
    build()  # first build: one-time imports and JVM class loading
    n = _round_trips(build)
    assert n <= _BUILD_CEILINGS[op], f"{op}: {n} py4j round trips"


# ---------------------------------------------------------------------------
# eager checkpoints: counts ride the checkpoint job, superseded blocks freed


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _checkpoints_behind(df) -> set:
    """RDD ids of the checkpoints (LogicalRDD leaves) ``df`` reads."""
    ids, stack = set(), [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD":
            ids.add(node.rdd().id())
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return ids


def test_materialize_observes_counts_on_the_checkpoint_job(spark):
    """The counts come from the checkpoint job itself, that job carries the
    given description, and the caller's description is restored."""
    from seraster_spark.session import materialize

    sc = spark.sparkContext
    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    group = f"materialize_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "outer")
    try:
        out, c = materialize(
            agg, "sizes", n=F.count(F.lit(1)), big=F.count_if(F.col("count") > 14)
        )
        desc = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # the aggregate's shuffle stage + the checkpoint; no count job
    assert [store.job(j).description().get() for j in jobs] == ["sizes", "sizes"]
    assert desc == "outer"
    assert c == {"n": 7, "big": 2}  # k = 0 and 1 have 15 members, the rest 14
    assert out.count() == 7
    for empty in (
        spark.range(0),
        spark.range(10).limit(0),
        spark.range(10).filter("id > 100"),
        spark.range(0).groupBy("id").count(),
    ):
        assert materialize(empty, "empty", n=F.count(F.lit(1)))[1] == {"n": 0}


def test_release_frees_exactly_the_checkpoint(spark):
    from seraster_spark.session import materialize, release

    before = _persisted(spark)
    out, _ = materialize(spark.range(50).selectExpr("id * 2 AS v"), "doubled")
    assert _persisted(spark) - before == _checkpoints_behind(out) != set()
    release(out)
    assert _persisted(spark) - before == set()
    with pytest.raises(Exception):
        out.collect()  # the blocks are gone


def _knn_case(spark):
    """400 points on a 10-unit lattice over [0, 190]^2 and two queries: one
    in the lattice resolves at ring 1; one 35 units west of it needs rings
    1, 2 and 4 (three rounds)."""
    from seraster_spark.grid import GridSpec

    pts = spark.createDataFrame(
        [(i * 20 + j, 10.0 * i, 10.0 * j) for i in range(20) for j in range(20)],
        "doc_id long, x double, y double",
    )
    qs = spark.createDataFrame(
        [(0, 95.0, 95.0), (1, -35.0, 95.0)], "query_id long, x double, y double"
    )
    spec = GridSpec(-100.0, -100.0, 300.0, 300.0, 10.0, square=True)
    return pts, qs, spec


def _knn_oracle(pts, qs, k):
    p = pts.toPandas()
    out = set()
    for q in qs.collect():
        d = np.hypot(p.x - q["x"], p.y - q["y"]).to_numpy()
        order = np.lexsort((p.doc_id.to_numpy(), d))[:k]
        out |= {(q["query_id"], int(p.doc_id[i]), r + 1) for r, i in enumerate(order)}
    return out


def _knn_rows(out):
    return {(r["query_id"], r["doc_id"], r["rank"]) for r in out.collect()}


def test_knn_join_multi_round_job_budget(spark):
    """Three rounds, forced by a collect: 1 job for the queries'
    checkpoint, 4 per round's ranked checkpoint (its query stages plus the
    checkpoint itself, which also observes the resolved count), 4 + 3 for
    the two pending-set checkpoints, 1 for the collect. A separate
    distinct().count() per round (3 jobs each) took this to 31."""
    pts, qs, spec = _knn_case(spark)
    out, n = _jobs(spark, lambda: _knn_rows(K.knn_join(pts, qs, 4, spec)))
    assert out == _knn_oracle(pts, qs, 4)
    assert n == 21


def test_cap_buckets_counts_dropped_buckets_on_its_checkpoint(spark, caplog):
    """One bucket over the cap (6 members > 5) and one exactly at it: the
    warning names one dropped bucket, and the count costs no job beyond the
    sizes checkpoint."""
    import logging

    from seraster_spark.text import cap_buckets

    rows = [(i, 0, 7) for i in range(6)] + [(10 + i, 0, 8) for i in range(5)]
    rows += [(20 + i, 1, i) for i in range(4)]
    banded = spark.createDataFrame(rows, "_id long, band int, bhash long")
    with caplog.at_level(logging.WARNING, logger="seraster_spark"):
        kept, n = _jobs(spark, lambda: cap_buckets(banded, ["band", "bhash"], 5, "cap_test"))
    msgs = [r.getMessage() for r in caplog.records if "cap_test" in r.getMessage()]
    assert msgs == ["cap_test: dropped 1 degenerate LSH bucket(s) larger than 5 members"]
    assert n == 2  # the sizes aggregate's shuffle stage + the checkpoint
    assert sorted(r["_id"] for r in kept.collect()) == list(range(10, 15)) + list(range(20, 24))


def test_iterative_operators_release_superseded_checkpoints(spark):
    """After each iterative operator returns, only the checkpoints its
    result reads stay persisted — superseded pending sets, label rounds,
    edge sets and the IVF training sample are released — and the result
    still collects to the right rows."""
    from seraster_spark import text as X
    from seraster_spark.similarity import train_ivf_centroids

    pts, qs, spec = _knn_case(spark)
    expect_knn = _knn_oracle(pts, qs, 4)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    expect_cc = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    def components(out):
        return {r["node"]: r["component"] for r in out.collect()}

    for op, rows, expect in (
        (lambda: K.knn_join(pts, qs, 4, spec), _knn_rows, expect_knn),
        (lambda: X.connected_components(pairs), components, expect_cc),
        (lambda: X.connected_components_star(pairs), components, expect_cc),
    ):
        before = _persisted(spark)
        out = op()
        held = _persisted(spark) - before
        assert held == _checkpoints_behind(out), held
        assert rows(out) == expect  # a released block it still reads would fail here
    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    before = _persisted(spark)
    cent = train_ivf_centroids(vecs, n_centroids=3, kmeans_iters=2, sample_size=50)
    assert cent.shape == (3, 4)
    assert _persisted(spark) - before == set()
