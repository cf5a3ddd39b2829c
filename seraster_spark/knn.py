"""Exact kNN via grid k-ring expansion + broadcast candidate join.

Not present in the reference (SEraster defers neighbor analysis to nnSVG,
vignette:253-257); mandated by BASELINE.json north_star: *"kNN neighbor
queries answered by H3 k-ring expansion with a broadcast tile index."*

Algorithm (exact, provably complete):

1. Encode each query point's tile; fan out its ring-R neighborhood by a
   broadcast crossJoin with the (tiny) ring-offsets table (pure Column
   math, constant plan size at any radius; no Python boundary).
2. Equi-join candidates ↔ the big points table on ``cell_id`` with the
   (small) exploded query side broadcast — the spatial join becomes a
   broadcast hash join, no shuffle of the points table beyond its scan.
3. Per query: exact top-k by Euclidean distance via window ``row_number``,
   ties broken by neighbor id for determinism.
4. Completeness check: a point outside square ring R is at Euclidean
   distance > R·res from the query (hex ring R: > (√3/2)·(R+1)·res −
   2·res/√3 — see :func:`_complete_bound`). Queries whose k-th distance
   exceeds that bound (or with < k candidates) re-run at doubled radius —
   a short distributed loop; each round is one job touching only
   unresolved queries, and the pending set / results stay as DataFrames
   (driver traffic is O(1) per round).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window as W, functions as F

from . import expressions as X
from .grid import SQRT3, GridSpec
from .session import materialize, release


def _ring_offsets(radius: int, square: bool) -> list[tuple[int, int]]:
    if square:
        return [
            (dr, dc)
            for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1)
        ]
    offs = []
    for dq in range(-radius, radius + 1):
        for dr in range(max(-radius, -dq - radius), min(radius, -dq + radius) + 1):
            offs.append((dr, dq))
    return offs


def _candidate_cells(spark, qdf, spec: GridSpec, radius: int):
    """Query rows fanned out to their ring-`radius` neighbor cells via a
    broadcast crossJoin with the (small) offsets table — constant plan size
    regardless of radius."""
    offs = spark.createDataFrame(
        _ring_offsets(radius, spec.square), "dr long, dc long"
    )
    row, col = X.unpack_sql("`_qcell`")
    # pack_sql masks to the axis field — unmasked, a ring cell near the
    # +-2^27 coordinate edge bleeds into the level/mode bits and can never
    # equal the masked ids on the points side
    ring = X.pack_sql(spec.mode, spec.level, f"{row} + `dr`", f"{col} + `dc`")
    return (
        qdf.crossJoin(F.broadcast(offs))
        .withColumn("cell_id", F.expr(ring))
        .drop("dr", "dc", "_qcell")
    )


def _complete_bound(spec: GridSpec, radius: int) -> float:
    """Max k-th distance for which ring `radius` provably contains the true
    top-k.

    Square: a point whose cell is outside Chebyshev ring R is > R·res away.
    Hex (pointy-top, neighbor center distance = res, circumradius = res/√3):
    a point outside ring R sits in a hex whose CENTER is at hex-distance
    ≥ R+1, and centers at hex-distance d can be as close as (√3/2)·d·res
    (e.g. axial (2,−1) at √3·res for d=2 — NOT d·res); query and candidate
    each sit ≤ res/√3 from their centers, so the safe bound is
    (√3/2)·(R+1)·res − 2·res/√3. (The earlier (R+1)·res − 2·res/√3 bound
    overclaimed and could certify a query complete while its true NN lay in
    an unscanned hex-distance-(R+1) cell.)"""
    if spec.square:
        return radius * spec.resolution
    return max(
        0.0,
        (radius + 1) * spec.resolution * SQRT3 / 2.0 - 2.0 * spec.resolution / SQRT3,
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    spec: GridSpec,
    point_id: str = "doc_id",
    query_id: str = "query_id",
    initial_radius: int = 1,
    max_radius: int = 64,
) -> DataFrame:
    """Exact k nearest `points` for each query point.

    points: (point_id, x, y [, ...]); queries: (query_id, x, y).
    Returns (query_id, point_id, dist, rank) with rank 1..k — deterministic
    (distance ties broken by point id). The result for all queries is exact;
    raises if max_radius is hit before completeness (pathologically sparse
    data → raise max_radius or coarsen the grid).

    Fully distributed rounds: the pending query set, per-round ranked
    candidates, and accumulated results all stay as DataFrames. Each round
    is ONE :func:`~seraster_spark.session.materialize` checkpoint over the
    big points table (lineage cut, so rounds never re-trigger earlier joins)
    that also observes how many queries it resolved; the completeness flag
    comes from the ranking's own window pass (no extra shuffle). A round
    that leaves queries unresolved adds one checkpoint of the smaller
    pending set and releases the old one, so Q can be arbitrarily large
    (doc↔doc kNN). The query rings are broadcast-hash-joined into the
    points scan, which holds while pending×ring rows fit a broadcast.
    """
    spark = points.sparkSession
    pts = points.select(
        F.col(point_id).alias("_pid"), F.col("x").alias("_px"), F.col("y").alias("_py")
    )
    pts = pts.withColumn("cell_id", F.expr(X.cell_id_sql("`_px`", "`_py`", spec)))

    pending, c = materialize(
        queries.select(
            F.col(query_id).alias("_qid"), F.col("x").alias("_qx"), F.col("y").alias("_qy")
        ),
        "knn_join: queries",
        n=F.count(F.lit(1)),
    )
    pending_n = c["n"]
    rounds: list[DataFrame] = []
    # one row per resolved query: its rank-1 neighbor
    first_done = F.col("_done") & (F.col("rank") == 1)
    radius = max(1, initial_radius)
    # an empty query set still runs one (empty) round, which types the result
    while radius <= max_radius:
        qdf = pending.withColumn("_qcell", F.expr(X.cell_id_sql("`_qx`", "`_qy`", spec)))
        cand_cells = _candidate_cells(spark, qdf, spec, radius)
        joined = pts.join(F.broadcast(cand_cells), on="cell_id", how="inner")
        ddx = F.col("_px") - F.col("_qx")
        ddy = F.col("_py") - F.col("_qy")
        # explicit products (not **2): bit-identical to the SQL oracle's x*x
        dist = F.sqrt(ddx * ddx + ddy * ddy)
        bound = _complete_bound(spec, radius)
        w_q = W.partitionBy("_qid")
        ranked, c = materialize(  # the one big job this round
            joined.withColumn("dist", dist)
            .withColumn(
                "rank",
                F.row_number().over(
                    w_q.orderBy(F.col("dist").asc(), F.col("_pid").asc())
                ),
            )
            .filter(F.col("rank") <= k)
            # completeness flag in the SAME pass: unordered windows over the
            # identical partition key reuse the rank window's exchange/sort
            .withColumn(
                "_done",
                (F.count(F.lit(1)).over(w_q) >= k) & (F.max("dist").over(w_q) <= bound),
            )
            .select("_qid", "_pid", "dist", "rank", "_done"),
            f"knn_join: radius {radius}",
            done=F.count_if(first_done),
        )
        rounds.append(ranked)
        pending_n -= c["done"]
        if pending_n == 0:  # skip checkpointing an empty pending set
            break
        superseded = pending
        pending, _ = materialize(
            pending.join(ranked.filter(first_done).select("_qid"), "_qid", "left_anti"),
            f"knn_join: pending {pending_n}",
        )
        release(superseded)
        radius *= 2
    release(pending)
    if pending_n > 0 or not rounds:
        raise RuntimeError(
            f"kNN incomplete at max_radius={max_radius}; raise max_radius or coarsen the grid"
        )
    out = reduce(DataFrame.unionByName, rounds).filter(F.col("_done"))
    return out.select(
        F.col("_qid").alias(query_id),
        F.col("_pid").alias(point_id),
        "dist",
        "rank",
    )
