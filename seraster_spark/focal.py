"""Neighborhood (focal) statistics and spatial autocorrelation on square
rasters.

These extend the reference's raster-algebra family (R/main.R keeps per-pixel
aggregates only) with the two classic "next" raster operations a spatial
analyst reaches for: a moving-window (focal) statistic and global Moran's I.
Both operate on the ALREADY-AGGREGATED tile table — cardinality = #tiles,
orders of magnitude below the document table — so the quadratic-looking
neighborhood expansion is a constant 9× explode of a small input, never a
doc-level self-join.

Scale shape:
- ``focal_stats``: explode each tile's value to its (2r+1)² neighbor
  coordinates (map-side, constant fan-out), one groupBy on the target
  (row, col), one equi-join back to the raster to keep only real tiles.
  Two slim shuffles on integer keys; payload is a single value column.
- ``morans_i``: one global agg for (n, Σx), a broadcast of that 1-row
  frame, the same constant-fan-out neighbor join, and two scalar aggs.
  Everything after the raster itself is tile-cardinality.

Bit-exactness: deviations are computed INTEGER-SCALED — with n tiles and
S = Σx, the quantity n·(x_i − x̄) = n·x_i − S is an exact BIGINT, so the
Moran numerator Σ w_ij (n·x_i − S)(n·x_j − S) and denominator
Σ (n·x_i − S)² are exact integers (the n² factors cancel in the ratio).
The only float op is the final single division, performed identically in
the DuckDB oracle. Overflow bound: |n·x − S| ≤ n·max(x); the numerator sum
is ≤ 8·n·(n·max)² — safe in int64 up to ~10⁵ tiles of count rasters
(raise the grid resolution, i.e. fewer tiles, beyond that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .session import materialize, release


def neighbor_offsets(radius: int = 1, queen: bool = True, include_center: bool = False):
    """(dr, dc) offsets of the focal window. ``queen`` = full square window;
    rook keeps only axis-aligned offsets (dr = 0 or dc = 0 — the plus-shaped
    window, matching terra/ArcGIS rook semantics at every radius)."""
    offs = []
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            if dr == 0 and dc == 0 and not include_center:
                continue
            if not queen and dr != 0 and dc != 0:
                continue
            offs.append((dr, dc))
    return offs


def hex_offsets(include_center: bool = False) -> list[tuple[int, int]]:
    """The 6 axial-coordinate neighbors of a pointy-top hex cell
    (dr, dq) — pass as ``kernel``/``offsets`` to run ``focal_stats`` or
    ``label_regions`` on a HEX raster's (r, q) indexes: hexagonal
    adjacency is just a different constant offset set over the same
    integer plane."""
    offs = [(0, 1), (0, -1), (1, 0), (-1, 0), (1, -1), (-1, 1)]
    return [(0, 0), *offs] if include_center else offs


def binomial_kernel(radius: int = 1) -> list[tuple[int, int, int]]:
    """Separable integer binomial (Gaussian-approximating) kernel:
    w(dr, dc) = C(2r, r+dr) · C(2r, r+dc). Radius 1 = the classic
    1-2-1 ⊗ 1-2-1 smoothing stencil (center 4, edges 2, corners 1)."""
    from math import comb

    return [
        (dr, dc, comb(2 * radius, radius + dr) * comb(2 * radius, radius + dc))
        for dr in range(-radius, radius + 1)
        for dc in range(-radius, radius + 1)
    ]


def _neighbor_contributions(
    tiles: DataFrame,
    value_col: str,
    offsets: list[tuple[int, int]] | list[tuple[int, int, int]],
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Each tile's value re-addressed to every window position it falls in:
    tile t contributes to target (t.row - dr, t.col - dc) for each offset —
    equivalently, target cell g aggregates tiles at (g.row + dr, g.col + dc)
    weighted w(dr, dc). Constant fan-out explode; stays map-side until the
    target groupBy. Offsets are (dr, dc) pairs (weight 1) or weighted
    (dr, dc, w) triples."""
    reserved = {"t_row", "t_col", "_v", "_w"}
    clash = reserved & set(tiles.columns)
    if clash:
        raise ValueError(
            f"input columns collide with focal internals: {sorted(clash)} — rename them"
        )
    triples = [o if len(o) == 3 else (*o, 1) for o in offsets]
    offs = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"), F.lit(w).alias("w"))
            for dr, dc, w in triples
        ]
    )
    o = F.explode(offs).alias("o")
    return tiles.select(
        (F.col(row_col) - F.col("o.dr")).alias("t_row"),
        (F.col(col_col) - F.col("o.dc")).alias("t_col"),
        (F.col(value_col) * F.col("o.w")).alias("_v"),
        F.col("o.w").alias("_w"),
        o,
    ).drop("o")


def _neighbor_contributions_arrow(
    tiles: DataFrame,
    value_col: str,
    triples: list[tuple[int, int, int]],
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Fused map-side combine for the neighbor explode (the segment-op
    pattern): one mapInPandas kernel broadcasts each tile's value across
    the (dr, dc, w) stencil in numpy and emits PER-BATCH PARTIAL aggregates
    keyed on the packed target cell, so only O(distinct targets) rows cross
    the Python boundary and the shuffle — vs (2r+1)² JVM row copies per
    tile under Generate. Integer value columns with integer stencil
    weights aggregate in exact int64, so partial-then-final sums equal
    the Column path BITWISE; float values or fractional weights differ
    only in addition order (last-ulp). NULL values contribute zero
    weighted mass but still count toward focal_n — the Column path's
    sum-ignores-NULL semantics.

    The partial combine only deduplicates if a batch's tiles are spatial
    NEIGHBORS — under round-robin partitioning a batch's stencil targets
    are nearly all distinct and the kernel emits MORE rows than Generate
    would (measured 8× slower at r=7). So the kernel is fed through a
    range repartition on (row, col): row-major-contiguous batches make a
    B-tile batch emit ~B + perimeter·r partials instead of B·(2r+1)²."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    reserved = {"t_row", "t_col", "_v", "_w"}
    clash = reserved & set(tiles.columns)
    if clash:
        raise ValueError(
            f"input columns collide with focal internals: {sorted(clash)} — rename them"
        )
    integral = dict(tiles.dtypes)[value_col] in ("tinyint", "smallint", "int", "bigint")
    # fractional stencil weights force float accumulation, mirroring the
    # Column path where _v = value * F.lit(0.5) widens to double
    integral_w = all(float(t[2]).is_integer() for t in triples)
    drs = np.array([t[0] for t in triples], dtype=np.int64)
    dcs = np.array([t[1] for t in triples], dtype=np.int64)
    ws = np.array([t[2] for t in triples], dtype=np.int64 if integral_w else np.float64)
    vdtype = np.int64 if (integral and integral_w) else np.float64
    wdtype = np.int64 if integral_w else np.float64
    schema = StructType(
        [
            StructField("t_row", LongType()),
            StructField("t_col", LongType()),
            StructField("_v", LongType() if vdtype is np.int64 else DoubleType()),
            StructField("_w", LongType() if integral_w else DoubleType()),
        ]
    )
    OFF, MUL = _REGION_OFF, _REGION_MUL

    r_max = (
        int(max(abs(drs).max(), abs(dcs).max())) if len(triples) else 0
    )

    def _dense(rows, cols, vals):
        """Dense-convolution partials: scatter the batch onto its local
        bbox grid, then accumulate the stencil as (2r+1)² contiguous 2D
        slice adds — no key expansion, no sort, no scatter beyond the
        initial O(B) placement. Radius enters only as slice count."""
        r0, c0 = int(rows.min()), int(cols.min())
        H = int(rows.max()) - r0 + 1
        W = int(cols.max()) - c0 + 1
        m = r_max
        vgrid = np.zeros((H + 4 * m, W + 4 * m), dtype=vdtype)
        ogrid = np.zeros((H + 4 * m, W + 4 * m), dtype=np.int64)
        np.add.at(vgrid, (rows - r0 + 2 * m, cols - c0 + 2 * m), vals)
        np.add.at(ogrid, (rows - r0 + 2 * m, cols - c0 + 2 * m), 1)
        tv = np.zeros((H + 2 * m, W + 2 * m), dtype=vdtype)
        tw = np.zeros((H + 2 * m, W + 2 * m), dtype=wdtype)
        # existence mask must be UNWEIGHTED occupancy: a kernel with
        # zero-sum weights (Laplacian) reaches cells whose Σw is 0
        tn = np.zeros((H + 2 * m, W + 2 * m), dtype=np.int64)
        for dr, dc, w in zip(drs, dcs, ws):
            rs, cs = m + dr, m + dc
            occ = ogrid[rs : rs + H + 2 * m, cs : cs + W + 2 * m]
            tv += w * vgrid[rs : rs + H + 2 * m, cs : cs + W + 2 * m]
            tw += w * occ
            tn += occ
        ti, tj = np.nonzero(tn)
        return ti + (r0 - m), tj + (c0 - m), tv[ti, tj], tw[ti, tj]

    def _sparse(rows, cols, vals):
        """Expansion + unique fallback for batches whose bbox dwarfs the
        batch (no locality to exploit — dense grids would be mostly air)."""
        tr = (rows[:, None] - drs[None, :]).ravel()
        tc = (cols[:, None] - dcs[None, :]).ravel()
        vv = (vals[:, None] * ws[None, :]).ravel()
        ww = np.broadcast_to(ws[None, :], (len(rows), len(ws))).ravel()
        key = (tr + OFF) * MUL + (tc + OFF)
        keys_u, inv = np.unique(key, return_inverse=True)
        v_acc = np.zeros(len(keys_u), dtype=vdtype)
        np.add.at(v_acc, inv, vv)
        w_acc = np.zeros(len(keys_u), dtype=wdtype)
        np.add.at(w_acc, inv, ww)
        return keys_u // MUL - OFF, keys_u % MUL - OFF, v_acc, w_acc

    def fused(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = pdf[row_col].to_numpy(dtype=np.int64)
            cols = pdf[col_col].to_numpy(dtype=np.int64)
            # NULL values arrive as NaN (pandas widens nullable ints to
            # float64; to_numpy(int64) would wrap NaN to INT64_MIN) —
            # fillna(0) gives them zero weighted mass, which is exactly
            # the Column path's sum-ignores-NULL; focal_n still counts
            # the tile there too (its _w row exists with _v NULL)
            vals = pdf[value_col].fillna(0).to_numpy(dtype=vdtype)
            # dense grid needs BOTH an absolute bound (5 bbox-sized
            # arrays × concurrent tasks — 4M cells ≈ 160 MB/task) and a
            # density bound (sparser than 1/64 → mostly-air grids)
            bbox = (int(rows.max() - rows.min()) + 4 * r_max + 1) * (
                int(cols.max() - cols.min()) + 4 * r_max + 1
            )
            if bbox <= 4_000_000 and bbox <= 64 * len(rows):
                t_row, t_col, v_acc, w_acc = _dense(rows, cols, vals)
            else:
                t_row, t_col, v_acc, w_acc = _sparse(rows, cols, vals)
            yield pd.DataFrame(
                {"t_row": t_row, "t_col": t_col, "_v": v_acc, "_w": w_acc}
            )

    slim = tiles.select(row_col, col_col, value_col)
    try:
        npart = max(
            tiles.sparkSession.sparkContext.defaultParallelism,
            slim.rdd.getNumPartitions(),
        )
        slim = slim.repartitionByRange(npart, row_col, col_col)
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd — still
        # range-partition (spatial locality is what makes the combine work)
        slim = slim.repartitionByRange(row_col, col_col)
    return slim.mapInPandas(fused, schema)


def focal_stats(
    tiles: DataFrame,
    value_col: str,
    radius: int = 1,
    queen: bool = True,
    include_center: bool = True,
    kernel: list[tuple[int, int, int]] | None = None,
    row_col: str = "row_i",
    col_col: str = "col_i",
    impl: str = "column",
) -> DataFrame:
    """Moving-window statistics over a square raster.

    For every EXISTING tile, the (weighted) sum / weight-total / mean of
    ``value_col`` over the (2·radius+1)² window centered on it, counting
    only neighbors that exist in the raster (absent tiles are structural
    missing, not zero — matching the engine-wide "empty pixels dropped"
    convention, F1). ``kernel`` = explicit weighted (dr, dc, w) stencil
    (e.g. ``binomial_kernel(1)`` for 1-2-1 smoothing); default = uniform
    weight 1 over the queen/rook window, where ``focal_n`` reduces to the
    plain neighbor count and ``focal_mean`` to the unweighted mean.

    Returns the input columns plus ``focal_sum`` (Σ w·v, input type),
    ``focal_n`` (Σ w over existing neighbors, long) and ``focal_mean``
    (focal_sum / focal_n, double).

    ``impl="column"`` (default — the oracle surface) is the zero-Python
    explode; ``impl="arrow"`` fuses the map-side combine into a numpy
    kernel emitting per-batch partial aggregates (the segment-op pattern)
    — worth it at LARGE stencils, where Generate's (2r+1)² full-row copies
    per tile dominate; bitwise-identical for integer value columns (exact
    int64 partials), last-ulp-order-different for floats.
    """
    offsets = kernel if kernel is not None else neighbor_offsets(
        radius=radius, queen=queen, include_center=include_center
    )
    if not offsets:
        # explode of a zero-element array is a VOID-typed analysis error;
        # fail here with a message instead
        raise ValueError("empty focal stencil (no offsets/kernel entries)")
    if impl not in ("column", "arrow"):
        raise ValueError(f"impl must be 'column' or 'arrow', got {impl!r}")
    if impl == "arrow":
        # fused map-side combine (the segment-op pattern) — the win grows
        # with stencil size; integer value columns match 'column' bitwise
        triples = [o if len(o) == 3 else (*o, 1) for o in offsets]
        contrib = _neighbor_contributions_arrow(
            tiles, value_col, triples, row_col, col_col
        )
    else:
        contrib = _neighbor_contributions(tiles, value_col, offsets, row_col, col_col)
    agg = contrib.groupBy("t_row", "t_col").agg(
        F.sum("_v").alias("focal_sum"),
        F.sum("_w").cast("long").alias("focal_n"),
    )
    out = tiles.join(
        agg,
        (F.col(row_col) == F.col("t_row")) & (F.col(col_col) == F.col("t_col")),
        "inner",
    ).drop("t_row", "t_col")
    return out.withColumn(
        "focal_mean", F.col("focal_sum").cast("double") / F.col("focal_n").cast("double")
    )


_REGION_OFF = 1 << 30
_REGION_MUL = 1 << 31


def label_regions(
    tiles: DataFrame,
    queen: bool = False,
    max_iter: int = 50,
    offsets: list[tuple[int, int]] | None = None,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Connected-region (patch) labeling of the occupied raster tiles — the
    ``terra::patches`` analog: maximal sets of rook- (default) or
    queen-adjacent tiles share a ``region_id``. Absent tiles are structural
    gaps that split regions.

    Built from parts the engine already has: adjacency edges come from the
    same constant-fan-out neighbor explode as ``focal_stats`` (an equi-join
    among EXISTING tiles — never a doc-level op), and the components from
    ``text.connected_components_star`` (large-star/small-star, O(log n)
    rounds): a percolating raster region's graph DIAMETER grows with the
    grid side — a ~30×20 grid at 60% occupancy already exceeds hash-min's
    practical round budget, so the diameter-proof variant is the right
    default here (measured: hash-min blew its 50-round cap on the sf0.01
    fixture; star converged).

    ``region_id`` is deterministic: the packed
    ``(row + 2³⁰)·2³¹ + (col + 2³⁰)`` key of the region's lexicographically
    smallest (row, col) tile — reproducible across partitionings and
    replicable in plain SQL. Isolated tiles keep their own key (singleton
    regions are materialized, unlike raw CC over pairs).
    """
    from .text import connected_components_star

    clash = {"node", "component", "_node", "region_id"} & set(tiles.columns)
    if clash:
        raise ValueError(
            f"input columns collide with label_regions internals: {sorted(clash)}"
        )
    key = (
        (F.col(row_col) + _REGION_OFF).cast("long") * F.lit(_REGION_MUL)
        + (F.col(col_col) + _REGION_OFF)
    )
    t = tiles.withColumn("_node", key)
    if offsets is None:
        # explicit offsets (e.g. hex_offsets() over axial (r, q)) override
        # the square rook/queen stencil
        offsets = neighbor_offsets(radius=1, queen=queen, include_center=False)
    contrib = _neighbor_contributions(
        t.select(F.col(row_col), F.col(col_col), F.col("_node")),
        "_node",
        offsets,
        row_col,
        col_col,
    ).select("t_row", "t_col", F.col("_v").alias("_src"))
    edges = contrib.join(
        t.select(
            F.col(row_col).alias("t_row"),
            F.col(col_col).alias("t_col"),
            F.col("_node").alias("_dst"),
        ),
        ["t_row", "t_col"],
        "inner",
    ).select("_src", "_dst")
    cc = connected_components_star(edges, src="_src", dst="_dst", max_iter=max_iter)
    return (
        t.join(cc, t["_node"] == cc["node"], "left")
        .withColumn("region_id", F.coalesce(F.col("component"), F.col("_node")))
        .drop("node", "component", "_node")
    )


def getis_ord_gi_star(
    tiles: DataFrame,
    value_col: str,
    queen: bool = True,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores with binary contiguity weights
    (the window INCLUDES the focal tile — that's the * in Gi*):

        Gi*_i = (Σ_{j∈w(i)} x_j − x̄·m_i) / (s·√((n·m_i − m_i²)/(n−1)))

    with m_i = window size, s = population std dev. Exactness: with
    A_i = n·Σ_w x − S·m_i and B = n·S2 − S² (both exact BIGINTs from
    integer ``value_col``), the z-score reduces to

        z_i = A_i / √(B·m_i·(n−m_i)/(n−1))

    — two divisions and one IEEE-correctly-rounded sqrt, performed in the
    same order as the SQL oracle, hence bit-identical. Degenerate cases
    (constant raster B=0, or a window covering every tile m_i=n) yield
    NULL/NaN z, as the statistic is undefined there.

    Scale: one ``focal_stats`` pass (two tile-cardinality shuffles) + a
    broadcast 1-row global-stats join. int64 bound: D = B·m_i·(n−m_i)
    must stay below 2⁶³, and the bound depends on BOTH tile count and
    value variance (B ≈ n²·σ²) — so instead of a rule of thumb, the
    expression carries a runtime guard: a double-arithmetic estimate of D
    (immune to the wrap it detects) raises at execution time near the
    limit rather than returning silently-wrong z-scores. Aggregate to a
    coarser grid or downscale values if it fires.
    """
    f = focal_stats(
        tiles.select(
            F.col(row_col), F.col(col_col), F.col(value_col).cast("long").alias("_x")
        ),
        "_x",
        queen=queen,
        include_center=True,
        row_col=row_col,
        col_col=col_col,
    )
    st = tiles.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(value_col).cast("long")).cast("long").alias("_s"),
        F.sum(F.col(value_col).cast("long") * F.col(value_col).cast("long"))
        .cast("long")
        .alias("_s2"),
    )
    j = f.crossJoin(F.broadcast(st))
    a = (F.col("_n") * F.col("focal_sum") - F.col("_s") * F.col("focal_n")).alias(
        "a_scaled"
    )
    b = F.col("_n") * F.col("_s2") - F.col("_s") * F.col("_s")
    # overflow guard in DOUBLE arithmetic (cannot wrap): |D| must fit int64
    n_d, s_d, s2_d, m_d = (
        F.col("_n").cast("double"),
        F.col("_s").cast("double"),
        F.col("_s2").cast("double"),
        F.col("focal_n").cast("double"),
    )
    d_est = (n_d * s2_d - s_d * s_d) * m_d * (n_d - m_d)
    d_raw = b * F.col("focal_n") * (F.col("_n") - F.col("focal_n"))
    d = F.when(F.abs(d_est) < F.lit(float(1 << 62)), d_raw).otherwise(
        F.raise_error(
            "getis_ord_gi_star: variance core exceeds int64 — aggregate to a "
            "coarser grid or downscale values"
        ).cast("long")
    ).alias("d_scaled")
    out = j.select(
        F.col(row_col),
        F.col(col_col),
        F.col("_x").alias(value_col),
        F.col("focal_n").alias("window_n"),
        a,
        d,
        (F.col("_n") - 1).cast("double").alias("_nm1"),
    )
    return out.withColumn(
        "gi_star",
        F.col("a_scaled").cast("double")
        / F.sqrt(F.col("d_scaled").cast("double") / F.col("_nm1")),
    ).drop("_nm1")


def morans_i(
    tiles: DataFrame,
    value_col: str,
    queen: bool = True,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Global Moran's I with binary contiguity weights (queen or rook).

        I = (n / W) · Σ_ij w_ij (x_i − x̄)(x_j − x̄) / Σ_i (x_i − x̄)²

    ``value_col`` must be integer-valued (counts): deviations are kept
    integer-scaled (see module docstring) so num/den are exact BIGINTs and
    the statistic is bit-deterministic across partitionings and engines.

    Returns one row: (n_tiles, w_sum, num_scaled, den_scaled, moran_i).
    """
    offsets = neighbor_offsets(radius=1, queen=queen, include_center=False)
    v = tiles.select(
        F.col(row_col).alias("r"),
        F.col(col_col).alias("c"),
        F.col(value_col).cast("long").alias("x"),
    )
    stats = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("x").cast("long").alias("s_x"),
    )
    # dev_i = n·x_i − S  (exact integer deviation, scaled by n)
    dv = v.crossJoin(F.broadcast(stats)).select(
        "r", "c", "n_tiles", (F.col("n_tiles") * F.col("x") - F.col("s_x")).alias("dev")
    )
    den = dv.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den_scaled"),
        F.max("n_tiles").alias("n_tiles"),
    )
    # directed neighbor pairs: re-address each tile's dev to its neighbors,
    # inner-join against existing tiles (w_ij = 1 iff both exist & adjacent)
    contrib = _neighbor_contributions(
        dv.select("r", "c", "dev"), "dev", offsets, row_col="r", col_col="c"
    )
    num = contrib.join(
        dv.select(F.col("r").alias("t_row"), F.col("c").alias("t_col"), "dev"),
        ["t_row", "t_col"],
        "inner",
    ).agg(
        F.sum(F.col("_v") * F.col("dev")).cast("long").alias("num_scaled"),
        F.count(F.lit(1)).cast("long").alias("w_sum"),
    )
    out = den.crossJoin(num)
    return out.select(
        "n_tiles",
        "w_sum",
        "num_scaled",
        "den_scaled",
        (
            (F.col("n_tiles") * F.col("num_scaled")).cast("double")
            / (F.col("w_sum") * F.col("den_scaled")).cast("double")
        ).alias("moran_i"),
    )


def quadrat_vmr(
    tiles: DataFrame,
    value_col: str,
    n_cells: int,
) -> DataFrame:
    """Quadrat-count variance-to-mean ratio over the FULL grid — the
    index of dispersion / chi-square test for complete spatial
    randomness (Fisher; spatstat ``quadrat.test``): VMR ≈ 1 under CSR
    (Poisson), > 1 clustered, < 1 regular. ``n_cells`` is the total
    quadrat count INCLUDING empty tiles (nrows·ncols of the GridSpec);
    absent tiles contribute x = 0, so Σx and Σx² over the occupied
    raster already equal the full-grid sums and one aggregate over the
    raster suffices — no empty-tile materialization.

        VMR = var/mean = (N·Σx² − S²) / (N·S)
        X²  = Σ(x − x̄)²/x̄ = N·VMR = (N·Σx² − S²) / S

    each ONE division on exact BIGINTs (integer ``value_col``) ⇒
    bit-exact. ``q_chi2`` is the quadrat.test statistic, compared
    against chi-square with N−1 dof (NB it equals N·VMR_population =
    (N−1)·VMR_sample — the dof lives in the reference distribution,
    not the statistic). NULL when S = 0. Raises at execution time if
    the raster holds MORE occupied tiles than ``n_cells`` — an
    undersized N would otherwise return an impossible negative VMR.

    Returns 1 row: (q_cells, q_sum, q_sumsq, q_vmr, q_chi2).
    """
    if n_cells <= 0:
        raise ValueError("n_cells must be positive")
    x = F.col(value_col).cast("long")
    qs = tiles.agg(
        F.coalesce(F.sum(x), F.lit(0)).cast("long").alias("q_sum"),
        F.coalesce(F.sum(x * x), F.lit(0)).cast("long").alias("q_sumsq"),
        F.count(F.lit(1)).alias("_n_occ"),
    )
    n = F.lit(int(n_cells))
    num = F.when(
        F.col("_n_occ") <= n,
        (n * F.col("q_sumsq") - F.col("q_sum") * F.col("q_sum")).cast("double"),
    ).otherwise(
        F.raise_error(
            "quadrat_vmr: n_cells is smaller than the occupied tile count — "
            "pass the FULL grid size (nrows*ncols of the GridSpec)"
        ).cast("double")
    )
    vmr = F.try_divide(num, (n * F.col("q_sum")).cast("double"))
    chi2 = F.try_divide(num, F.col("q_sum").cast("double"))
    return qs.select(
        n.cast("long").alias("q_cells"),
        "q_sum",
        "q_sumsq",
        vmr.alias("q_vmr"),
        chi2.alias("q_chi2"),
    )


def local_morans_i(
    tiles: DataFrame,
    value_col: str,
    queen: bool = True,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per tile, binary contiguity.

        I_i = z_i · Σ_{j∈w(i)} z_j / (Σ z² / n),   z = x − x̄

    The per-tile decomposition of :func:`morans_i` — WHERE the spatial
    autocorrelation lives, the standard companion to the Gi* hot-spot
    score. With the integer-scaled deviations D_i = n·x_i − S (exact
    BIGINT for integer ``value_col``) and the neighbor lag
    L_i = Σ_{j∈w(i), j exists} D_j, the statistic reduces to

        I_i = n · D_i · L_i / ΣD²     with  ΣD² = n·(n·S2 − S²)

    — ONE division on exact BIGINTs ⇒ bit-identical in any engine that
    replays the expression (the denominator comes closed-form from the
    1-row (n, S, S2) aggregate: no second pass over tiles). Quadrant
    labels are sign-decidable on the exact integers: HH/LL (hot/cold
    cluster), HL/LH (spatial outlier), NS when D_i or L_i is 0 —
    including isolated tiles (no existing neighbor), whose lag is the
    empty sum 0. Constant rasters (ΣD² = 0) yield NULL I_i (undefined).

    Scale: one constant-fan-out neighbor explode + one tile-cardinality
    hash agg + a broadcast 1-row stats join — the morans_i/focal shape.
    int64 guard: |n·D_i·L_i| is checked in double arithmetic (immune to
    the wrap it detects) and raises at execution time instead of
    returning silently wrong scores (the gi_star pattern).

    Returns (row_col, col_col, value_col, dev_scaled, lag_scaled, lag_n,
    local_i, quadrant).
    """
    offsets = neighbor_offsets(radius=1, queen=queen, include_center=False)
    v = tiles.select(
        F.col(row_col).alias("r"),
        F.col(col_col).alias("c"),
        F.col(value_col).cast("long").alias("x"),
    )
    stats = v.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("x").cast("long").alias("_s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_s2"),
    )
    dv = v.crossJoin(F.broadcast(stats)).select(
        "r",
        "c",
        "x",
        "_n",
        "_s",
        "_s2",
        (F.col("_n") * F.col("x") - F.col("_s")).alias("dev_scaled"),
    )
    lag = (
        _neighbor_contributions(
            dv.select("r", "c", "dev_scaled"), "dev_scaled", offsets,
            row_col="r", col_col="c",
        )
        .groupBy("t_row", "t_col")
        .agg(
            F.sum("_v").cast("long").alias("lag_scaled"),
            F.sum("_w").cast("long").alias("lag_n"),
        )
    )
    # LEFT join + zero-coalesce: an isolated tile has an EMPTY lag sum,
    # not a missing row (the inner-join focal_stats shape would drop it)
    j = (
        dv.join(
            lag,
            (F.col("r") == F.col("t_row")) & (F.col("c") == F.col("t_col")),
            "left",
        )
        .drop("t_row", "t_col")
        .withColumn("lag_scaled", F.coalesce(F.col("lag_scaled"), F.lit(0).cast("long")))
        .withColumn("lag_n", F.coalesce(F.col("lag_n"), F.lit(0).cast("long")))
    )
    den = F.col("_n") * (F.col("_n") * F.col("_s2") - F.col("_s") * F.col("_s"))
    num_raw = F.col("_n") * F.col("dev_scaled") * F.col("lag_scaled")
    num_est = (
        F.col("_n").cast("double")
        * F.col("dev_scaled").cast("double")
        * F.col("lag_scaled").cast("double")
    )
    den_est = F.col("_n").cast("double") * (
        F.col("_n").cast("double") * F.col("_s2").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double")
    )
    guard_ok = (F.abs(num_est) < F.lit(float(1 << 62))) & (
        F.abs(den_est) < F.lit(float(1 << 62))
    )
    num = F.when(guard_ok, num_raw).otherwise(
        F.raise_error(
            "local_morans_i: n*dev*lag or the denominator exceeds int64 — "
            "aggregate to a coarser grid or downscale values"
        ).cast("long")
    )
    d, l = F.col("dev_scaled"), F.col("lag_scaled")
    quadrant = (
        F.when((d > 0) & (l > 0), F.lit("HH"))
        .when((d < 0) & (l < 0), F.lit("LL"))
        .when((d > 0) & (l < 0), F.lit("HL"))
        .when((d < 0) & (l > 0), F.lit("LH"))
        .otherwise(F.lit("NS"))
    )
    return j.select(
        F.col("r").alias(row_col),
        F.col("c").alias(col_col),
        F.col("x").alias(value_col),
        "dev_scaled",
        "lag_scaled",
        "lag_n",
        F.try_divide(num.cast("double"), den.cast("double")).alias("local_i"),
        quadrant.alias("quadrant"),
    )


def grid_distance(
    tiles: DataFrame,
    sources: DataFrame,
    queen: bool = False,
    offsets: list[tuple[int, int]] | None = None,
    max_rounds: int = 4096,
    row_col: str = "row_i",
    col_col: str = "col_i",
    compact_every: int = 16,
) -> DataFrame:
    """Multi-source BFS hop distance over the OCCUPIED tiles — the
    ``terra::gridDist`` (cost-distance with unit costs) analog: per tile,
    the minimum number of rook- (default) or queen-adjacency steps through
    existing tiles to reach any source tile. Absent tiles are barriers;
    tiles in regions containing no source are simply absent from the
    output (callers LEFT JOIN and read NULL as unreachable).

    Distributed shape (Pregel-style frontier expansion): each round
    explodes the CURRENT FRONTIER by the constant offset set, equi-joins
    against the occupied-tile set, and anti-joins against everything
    already labeled — three tile-cardinality (or smaller) slim shuffles
    per round, no doc-level work, rounds = the true distance diameter.
    Hop counts are integers, so results are exact and
    partitioning-independent.

    Storage discipline: each round's frontier is eagerly checkpointed (it
    is small by definition) so lineage stays flat; every ``compact_every``
    rounds the accumulated labels are COMPACTED into one fresh checkpoint
    and the superseded round checkpoints are explicitly released
    (``session.release``), so executor storage holds the labeled
    set once plus ≤ ``compact_every`` frontiers — NOT one block set per
    hop of diameter. The returned frame is a single flat checkpoint; every
    intermediate is already freed when this function returns.

    COST WARNING — rounds = hop diameter: a continent-scale raster at fine
    resolution has diameter in the thousands, i.e. thousands of sequential
    slim shuffles. Coarsen first: roll the raster up by an integer factor
    (``regrid``/``tile_pyramid``), run the BFS on the coarse grid, and
    scale — :func:`grid_distance_coarse` packages exactly that recipe with
    its error bound. Hex rasters: pass ``offsets=hex_offsets()`` over
    axial (r, q).
    """
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    offs = offsets if offsets is not None else neighbor_offsets(1, queen=queen)
    keys = [row_col, col_col]
    to_free: list[DataFrame] = []  # checkpoints superseded once compacted
    # materialize the occupied set ONCE: it is joined in every round, and
    # without the checkpoint each round's job would re-execute the raster's
    # full upstream lineage (at corpus scale: one doc-table aggregation per
    # BFS hop instead of one total)
    occ, _ = materialize(tiles.select(*keys).distinct(), "grid_distance: occupied")
    dist, _ = materialize(
        sources.select(*keys)
        .distinct()
        .join(occ, keys, "inner")  # sources must be occupied tiles
        .withColumn("grid_dist", F.lit(0).cast("long")),
        "grid_distance: sources",
    )
    to_free.append(dist)
    frontier = dist
    off_arr = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr, dc in offs
        ]
    )

    def compact(d: DataFrame) -> DataFrame:
        # one fresh checkpoint of everything labeled so far, then free the
        # per-round pieces it replaces (safe: eager=True materialized first)
        nonlocal to_free
        d2, _ = materialize(d, "grid_distance: labels")
        for f in to_free:
            release(f)
        to_free = [d2]
        return d2

    try:
        for r in range(1, max_rounds + 1):
            neigh = (
                frontier.withColumn("_o", F.explode(off_arr))
                .select(
                    (F.col(row_col) + F.col("_o.dr")).alias(row_col),
                    (F.col(col_col) + F.col("_o.dc")).alias(col_col),
                )
                .distinct()
                .join(occ, keys, "inner")
            )
            new, c = materialize(
                neigh.join(dist.select(*keys), keys, "left_anti")
                .withColumn("grid_dist", F.lit(r).cast("long")),
                f"grid_distance: round {r}",
                n=F.count(F.lit(1)),
            )
            if c["n"] == 0:
                release(new)  # empty, never referenced again
                break
            to_free.append(new)
            # both sides are already checkpointed — a lazy union keeps
            # lineage flat without re-materializing labels every round
            dist = dist.unionByName(new)
            frontier = new
            if r % compact_every == 0:
                dist = compact(dist)
                frontier = dist.filter(F.col("grid_dist") == r)
        else:
            # truncated distances would be indistinguishable from the
            # documented unreachable-NULL semantics — fail loudly instead
            raise ValueError(
                f"grid_distance: frontier still non-empty after max_rounds="
                f"{max_rounds}; raise max_rounds (hop diameter exceeds it) — "
                f"or coarsen first (grid_distance_coarse)"
            )
        return compact(dist)
    except BaseException:
        # error path (max_rounds exhaustion or any mid-loop failure): drain
        # every round checkpoint too — otherwise each failed attempt leaks
        # its block sets until driver GC (the no-leaked-persists rule)
        for f in to_free:
            release(f)
        raise
    finally:
        release(occ)


def grid_distance_coarse(
    tiles: DataFrame,
    sources: DataFrame,
    factor: int,
    queen: bool = False,
    max_rounds: int = 4096,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Coarsen-first cost distance: roll both rasters up by integer
    ``factor`` (floor-divide the indexes — exactly how ``tile_pyramid``
    parents cells), run :func:`grid_distance` on the coarse grid, and map
    each FINE tile to its coarse cell's distance. Cuts BFS rounds — the
    sequential-shuffle count — by ~``factor`` and frontier cardinality by
    ~``factor``², the recipe for continent-scale diameters.

    Returns one row per input tile: (row, col, coarse_dist, grid_dist_est)
    where ``grid_dist_est = coarse_dist · factor`` estimates the fine hop
    distance. Bounds (rook adjacency, solid occupancy):
    ``factor·coarse_dist ≤ fine_dist ≤ factor·(coarse_dist+2) − 2`` — the
    estimate is within ~2·factor of exact (in-cell slack up to factor−1
    per coordinate at both endpoints).
    CAVEAT: coarsening FILLS barriers thinner than ``factor`` (a coarse
    cell is occupied if ANY fine tile inside it is) — distances around
    thin walls are underestimated. Use for reach/order-of-magnitude
    screening, then exact :func:`grid_distance` on the shortlisted region.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")
    keys = [row_col, col_col]

    def coarsen(df: DataFrame) -> DataFrame:
        return df.select(
            F.floor(F.col(row_col) / factor).cast("long").alias(row_col),
            F.floor(F.col(col_col) / factor).cast("long").alias(col_col),
        ).distinct()

    coarse = grid_distance(
        coarsen(tiles),
        coarsen(sources),
        queen=queen,
        max_rounds=max_rounds,
        row_col=row_col,
        col_col=col_col,
    ).select(
        F.col(row_col).alias("_cr"),
        F.col(col_col).alias("_cc"),
        F.col("grid_dist").alias("coarse_dist"),
    )
    fine = tiles.select(*keys).distinct()
    return (
        fine.join(
            F.broadcast(coarse),  # coarse raster is factor² smaller
            (F.floor(F.col(row_col) / factor) == F.col("_cr"))
            & (F.floor(F.col(col_col) / factor) == F.col("_cc")),
            "left",
        )
        .drop("_cr", "_cc")
        .withColumn("grid_dist_est", F.col("coarse_dist") * factor)
    )


def viewshed(
    raster: DataFrame,
    observer: tuple[int, int],
    value_col: str = "n_docs",
    observer_height: int = 1,
    max_radius: int | None = None,
    row_col: str = "row_i",
    col_col: str = "col_i",
    out_col: str = "visible",
) -> DataFrame:
    """Line-of-sight viewshed over an integer-valued square raster (the
    classic DEM operation, with the tile value — e.g. doc count — as the
    elevation surface; terra::viewshed analog, beyond the reference's
    per-pixel aggregates).

    The observer stands at integer cell ``observer`` at elevation
    ``elev(observer cell) + observer_height`` (0 + height if that cell is
    empty — absent tiles have elevation 0 throughout). A target tile is
    ``visible`` iff no intermediate sample along the discrete sight line
    rises to or above the line of sight. Sight lines are sampled
    PARAMETRICALLY: with ``n = max(|Δrow|, |Δcol|)`` (Chebyshev distance),
    sample ``t = 1..n-1`` lands on cell
    ``(orow + round(t·Δrow/n), ocol + round(t·Δcol/n))`` with half-up
    rounding done in EXACT integer arithmetic
    (``floordiv(2·t·Δ + n, 2·n)`` via pmod), and the blocking test is the
    cross-multiplied slope comparison ``n·(e_s − h) ≥ t·(e_tgt − h)`` —
    every quantity an exact BIGINT, so the full classification is
    bit-reproducible across engines (the DuckDB twin replays the identical
    integer arithmetic). Targets at ``n ≤ 1`` are always visible.

    Scale shape: the exploded sight-line table is slim (target key, t,
    sample key) — elevations never ride the explode; they attach by one
    equi-join on the sample cell. Cost is O(Σ n) ≈ N^1.5 rows for an
    unbounded viewshed on an N-tile raster — at corpus scale ALWAYS set
    ``max_radius`` (tiles beyond it are dropped, the standard viewshed
    contract), which makes the explode O(N · max_radius).

    Three slim integer-keyed shuffles: sample-cell join, per-target max,
    join back. The observer elevation is a 1-row aggregate broadcast by
    crossJoin (never a driver collect).
    """
    orow, ocol = int(observer[0]), int(observer[1])
    e = F.col(value_col).cast("long")
    slim = raster.select(
        F.col(row_col).cast("long").alias("_r"),
        F.col(col_col).cast("long").alias("_c"),
        e.alias("_e"),
    )
    # observer eye height: 1-row agg (a SUM over the at-most-one matching
    # tile -> 0 when the cell is empty), broadcast-crossJoined below
    obs = slim.agg(
        (
            F.coalesce(
                F.sum(F.when((F.col("_r") == orow) & (F.col("_c") == ocol), F.col("_e"))),
                F.lit(0).cast("long"),
            )
            + F.lit(int(observer_height))
        ).alias("_h")
    )

    cheb = F.greatest(F.abs(F.col("_r") - orow), F.abs(F.col("_c") - ocol))
    tgt = slim.withColumn("_n", cheb)
    if max_radius is not None:
        tgt = tgt.filter(F.col("_n") <= int(max_radius))

    def _floordiv(a, b):
        # exact integer floor division: (a - pmod(a, b)) / b — numerator is
        # divisible by b, so the double division is exact; works for a < 0
        return ((a - F.pmod(a, b)) / b).cast("long")

    t_ = F.col("_t")
    line = (
        tgt.filter(F.col("_n") > 1)
        .withColumn("_t", F.explode(F.sequence(F.lit(1), F.col("_n") - 1)))
        .select(
            "_r",
            "_c",
            "_e",
            "_n",
            "_t",
            (orow + _floordiv(2 * t_ * (F.col("_r") - orow) + F.col("_n"), 2 * F.col("_n"))).alias("_sr"),
            (ocol + _floordiv(2 * t_ * (F.col("_c") - ocol) + F.col("_n"), 2 * F.col("_n"))).alias("_sc"),
        )
    )
    elev = slim.select(
        F.col("_r").alias("_sr"), F.col("_c").alias("_sc"), F.col("_e").alias("_se")
    )
    blocked = (
        line.join(elev, ["_sr", "_sc"], "left")
        .crossJoin(F.broadcast(obs))
        .groupBy("_r", "_c")
        .agg(
            F.max(
                F.when(
                    F.col("_n") * (F.coalesce(F.col("_se"), F.lit(0).cast("long")) - F.col("_h"))
                    >= F.col("_t") * (F.col("_e") - F.col("_h")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("_blocked")
        )
    )
    out = (
        tgt.join(blocked, ["_r", "_c"], "left")
        .withColumn(out_col, F.coalesce(F.col("_blocked"), F.lit(0)) == 0)
        .select(
            F.col("_r").alias(row_col),
            F.col("_c").alias(col_col),
            F.col("_e").alias(value_col),
            F.col("_n").alias("los_n"),
            out_col,
        )
    )
    return out


def terrain(
    raster: DataFrame,
    value_col: str = "n_docs",
    resolution: float = 1.0,
    row_col: str = "row_i",
    col_col: str = "col_i",
) -> DataFrame:
    """Horn-method terrain derivatives over an integer-valued square raster
    (terra::terrain analog — the tile value, e.g. doc count, as the
    elevation surface; beyond the reference's per-pixel aggregates).

    Per existing tile, the Horn 3×3 finite-difference numerators
    ``ddx_num = Σ e·dc·(2−|dr|)`` and ``ddy_num = Σ e·dr·(2−|dc|)``
    (exact BIGINTs — absent neighbors contribute 0, the same convention as
    :func:`viewshed`), plus:

    - ``slope_ratio`` = rise/run = ``sqrt(ddx² + ddy²) / (8·resolution)``.
      The argument of sqrt is an exact integer and sqrt / division are
      single correctly-rounded IEEE ops, so the double is BIT-EXACT across
      engines (the DuckDB twin replays the identical expression).
    - ``aspect_octant`` — steepest-ASCENT direction classified into 8
      integer octants (0=E, 1=NE, 2=N, 3=NW, 4=W, 5=SW, 6=S, 7=SE) with
      axis/diagonal boundaries at gradient-slope 1/2 and 2 (an
      integer-exact rule: axis when ``2·min(|gx|,|gy|) ≤ max``, else the
      sign-quadrant diagonal); NULL where the gradient is exactly flat.
      Deliberately NOT the atan2-degrees aspect (whose 22.5° boundaries
      are irrational) — this classification is decidable in exact integer
      arithmetic, hence oracle-checkable bit-for-bit.

    Same scale shape as :func:`focal_stats`: a constant 8× map-side explode
    of the tile table re-addressing each value to its neighbors, one
    groupBy on the target key, one join back — two slim integer-keyed
    shuffles, tile cardinality throughout.
    """
    # the center offset rides along with weight (0, 0) so even an ISOLATED
    # tile receives one (zero) contribution and survives the inner join —
    # flat gradient, not a dropped row (the SQL twin's 3×3 self-join always
    # matches the tile itself the same way)
    offsets = []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            offsets.append((dr, dc, dc * (2 - abs(dr)), dr * (2 - abs(dc))))
    offs = F.array(
        *[
            F.struct(
                F.lit(dr).alias("dr"),
                F.lit(dc).alias("dc"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for dr, dc, wx, wy in offsets
        ]
    )
    e = F.col(value_col).cast("long")
    contrib = (
        raster.select(
            F.col(row_col).cast("long").alias("_r"),
            F.col(col_col).cast("long").alias("_c"),
            e.alias("_e"),
        )
        .select("_r", "_c", "_e", F.explode(offs).alias("o"))
        .select(
            (F.col("_r") - F.col("o.dr")).alias("_tr"),
            (F.col("_c") - F.col("o.dc")).alias("_tc"),
            (F.col("_e") * F.col("o.wx")).alias("_vx"),
            (F.col("_e") * F.col("o.wy")).alias("_vy"),
        )
    )
    grad = contrib.groupBy("_tr", "_tc").agg(
        F.sum("_vx").alias("ddx_num"), F.sum("_vy").alias("ddy_num")
    )
    gx, gy = F.col("ddx_num"), F.col("ddy_num")
    ax, ay = F.abs(gx), F.abs(gy)
    octant = (
        # NULL elevations yield NULL numerators: classify as NULL (no
        # gradient information), not the fall-through .otherwise branch
        F.when(gx.isNull() | gy.isNull(), F.lit(None).cast("long"))
        .when((gx == 0) & (gy == 0), F.lit(None).cast("long"))
        .when(2 * ay <= ax, F.when(gx > 0, F.lit(0)).otherwise(F.lit(4)))
        .when(2 * ax <= ay, F.when(gy > 0, F.lit(2)).otherwise(F.lit(6)))
        .when((gx > 0) & (gy > 0), F.lit(1))
        .when((gx < 0) & (gy > 0), F.lit(3))
        .when((gx < 0) & (gy < 0), F.lit(5))
        .otherwise(F.lit(7))
        .cast("long")
    )
    return (
        raster.join(
            grad,
            (F.col(row_col) == F.col("_tr")) & (F.col(col_col) == F.col("_tc")),
            "inner",
        )
        .drop("_tr", "_tc")
        .withColumn(
            "slope_ratio",
            F.sqrt((gx * gx + gy * gy).cast("double"))
            / F.lit(8.0 * float(resolution)),
        )
        .withColumn("aspect_octant", octant)
    )
