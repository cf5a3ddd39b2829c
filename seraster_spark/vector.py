"""Raster ↔ vector round-trips.

Raster → vector: every tile polygonized to WKT / GeoJSON in closed form from
its cell id (reference keeps sfc_POLYGON geometry in colData,
``R/main.R:191-193``; we synthesize the ring on demand instead of ever
materializing a grid).

Vector → raster: a polygon is mapped to its covering cell set (bbox → ring of
candidate cells → centroid-in-polygon filter + boundary band), then joined
to the documents table — an equi-join on cell_id, never a per-row geometry
test against the big table; the exact ray-cast test runs on the join's
survivors only.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .expressions import quote
from .grid import GridSpec, covering_cells, polygon_vertices
from .udfs import wkt_udf


def tiles_with_wkt(tiles: DataFrame, spec: GridSpec, decimals: int = 6) -> DataFrame:
    """Attach a ``geometry_wkt`` column (Arrow-batched numpy polygonizer)."""
    return tiles.withColumn("geometry_wkt", wkt_udf(spec, decimals)(F.col("cell_id")))


def tiles_geojson(
    tiles: DataFrame,
    spec: GridSpec,
    properties: list[str] | None = None,
    max_rows: int = 1_000_000,
    decimals: int = 6,
) -> str:
    """Driver-side GeoJSON FeatureCollection export of a (small) tiles result.

    Distributed part = the tiles DataFrame itself; the serialization is a
    driver sink like the reference's plot path (R/main.R:791-849).
    ``max_rows`` guards the collect (a raster at continent scale has more
    tiles than driver memory) — raise it deliberately, or use
    :func:`write_geojson_lines` which never materializes on the driver.
    """
    props = (
        properties if properties is not None
        else [c for c in tiles.columns if c != "cell_id"]
    )
    rows = tiles.select("cell_id", *props).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"tiles_geojson: result exceeds max_rows={max_rows}; this is a "
            "driver sink — raise max_rows deliberately or use "
            "write_geojson_lines for a distributed export"
        )
    cell_ids = np.array([r["cell_id"] for r in rows], dtype=np.int64)
    verts = polygon_vertices(cell_ids, spec) if len(rows) else np.zeros((0, 5, 2))
    # geometry is composed with the SAME fixed '%.Nf' template as the WKT
    # path and write_geojson_lines (json.dumps would re-render 1.000000 as
    # 1.0), so each feature's geometry member is byte-identical across the
    # three export surfaces; properties stay json.dumps'd
    fmt = f"[%.{decimals}f,%.{decimals}f]"
    feats = []
    for r, ring in zip(rows, verts):
        pts = ",".join(fmt % (float(vx), float(vy)) for vx, vy in ring)
        geom = '{"type":"Polygon","coordinates":[[' + pts + "]]}"
        props_json = json.dumps({p: r[p] for p in props}, separators=(",", ":"))
        feats.append(
            '{"type":"Feature","geometry":' + geom
            + ',"properties":' + props_json + "}"
        )
    return '{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}"


def write_geojson_lines(
    tiles: DataFrame,
    spec: GridSpec,
    path: str,
    properties: list[str] | None = None,
    decimals: int = 6,
    mode: str = "overwrite",
) -> None:
    """Distributed newline-delimited GeoJSON export (one RFC 7946 Feature
    per line — the 'GeoJSONL' layout GIS tools stream): geometry is
    polygonized per Arrow batch by the same numpy kernel as the WKT path,
    properties are serialized JVM-side with ``to_json``, and each partition
    writes its own part file — nothing ever materializes on the driver, so
    this is the raster→vector sink that survives continent-scale rasters
    (cf. :func:`tiles_geojson`, the capped driver-side FeatureCollection)."""
    from .udfs import geojson_geom_udf

    props = (
        properties if properties is not None
        else [c for c in tiles.columns if c != "cell_id"]
    )
    geom = geojson_geom_udf(spec, decimals)(F.col("cell_id"))
    line = F.concat(
        F.lit('{"type":"Feature","geometry":'),
        geom,
        F.lit(',"properties":'),
        # keep NULL-valued properties as explicit JSON nulls — to_json drops
        # them by default, which would give per-line schema drift vs the
        # driver-side tiles_geojson export
        F.to_json(
            F.struct(*[F.col(p) for p in props]),
            {"ignoreNullFields": "false"},
        ),
        F.lit("}"),
    )
    tiles.select(line.alias("value")).write.mode(mode).text(path)


def spatial_join(
    docs_with_cell: DataFrame,
    polygons: dict[str, list[tuple[float, float]]],
    spec: GridSpec,
    exact: bool = True,
) -> DataFrame:
    """N-polygon containment join: docs × polygons → (doc rows, poly_id).

    Stage 1: each polygon's covering cell set (driver-side closed-form grid
    arithmetic, tiny) becomes a broadcast (cell_id, poly_id) table — the
    spatial join is an equi-join on cell_id, partition-prunable, and each
    doc only meets polygons whose cover contains its tile.
    Stage 2 (exact): vectorized ray-casting PIP per (doc, poly) pair inside
    one Arrow batch kernel — touching only stage-1 survivors.

    A doc inside k polygons yields k rows (standard spatial-join semantics).
    """
    spark = docs_with_cell.sparkSession
    rows = []
    rings: dict[str, np.ndarray] = {}
    for pid, verts in polygons.items():
        ring = np.asarray(verts, dtype=np.float64)
        if not (ring[0] == ring[-1]).all():
            ring = np.vstack([ring, ring[:1]])
        rings[pid] = ring
        for c in covering_cells(ring, spec):
            rows.append((int(c), pid))
    cover = spark.createDataFrame(rows, "cell_id long, poly_id string")
    coarse = docs_with_cell.join(F.broadcast(cover), "cell_id")
    if not exact:
        return coarse

    ring_items = list(rings.items())

    @F.pandas_udf("boolean")
    def _pip_multi(x: pd.Series, y: pd.Series, pid: pd.Series) -> pd.Series:
        out = np.zeros(len(x), dtype=bool)
        xv = x.to_numpy(np.float64)
        yv = y.to_numpy(np.float64)
        pv = pid.to_numpy()
        for p, ring in ring_items:
            mask = pv == p
            if mask.any():
                from .grid import point_in_polygon

                out[mask] = point_in_polygon(xv[mask], yv[mask], ring)
        return pd.Series(out)

    return coarse.filter(_pip_multi(F.col("x"), F.col("y"), F.col("poly_id")))


def spatial_join_corpus(
    docs_with_cell: DataFrame,
    polys: DataFrame,
    spec: GridSpec,
    exact: bool = True,
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    broadcast_cover: bool = True,
    max_tiles_per_poly: int = 262144,
) -> DataFrame:
    """Containment join where the polygons are themselves a CORPUS — the
    data-scale counterpart of :func:`spatial_join` (driver dict), the way
    :func:`rasterize_polygons` generalizes :func:`zonal_weighted`: parcels
    × points at 100 TB means BOTH sides are DataFrames.

    ``polys`` carries ring vertex arrays ``xs``/``ys`` (open or closed,
    any simple polygon) plus an id column. Stage 1: one mapInPandas kernel
    turns each polygon into its covering-cell set — a slim (cell_id,
    poly_id, ring) table; the spatial join becomes an equi-join on
    cell_id (``broadcast_cover=True`` broadcasts it — right when the
    polygon corpus is dimension-sized; ``False`` is the corpus↔corpus
    shuffle shape, where AQE's skew splitting handles hot cells and the
    ring payload rides the one exchange so no second join is needed).
    Stage 2 (``exact``): vectorized ray-casting PIP over stage-1
    survivors, one Arrow batch kernel, grouped per distinct ring inside
    each batch. Same row semantics as ``spatial_join``: a doc inside k
    polygons yields k rows; boundary points count as inside. Degenerate
    rings (NULL / < 3 vertices / non-finite) are dropped; a polygon whose
    bbox cover exceeds ``max_tiles_per_poly`` raises loudly.
    """
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = polys.schema[poly_id]
    cover_schema = StructType(
        [
            StructField("cell_id", LongType()),
            StructField(poly_id, id_field.dataType),
            # ONE binary column per ring: 6.4M array<double> cells took
            # ~2/3 of the PIP stage in Arrow->pandas deserialization;
            # bytes objects are ~an order of magnitude cheaper to box
            StructField("_ring", BinaryType()),
            # ring bbox: lets the exact path drop definitely-outside
            # candidates with a codegen'd JVM filter BEFORE they pay the
            # Arrow boundary + ray-cast (exact-conservative: ray-cast PIP
            # is False strictly outside the bbox, and boundary points
            # satisfy the closed comparisons)
            StructField("_pbx0", DoubleType()),
            StructField("_pbx1", DoubleType()),
            StructField("_pby0", DoubleType()),
            StructField("_pby1", DoubleType()),
        ]
    )
    cap = max_tiles_per_poly
    # bound the vectorized cover's transient arrays (candidates × padded
    # edges) regardless of Arrow batch sizing
    chunk_rows = 8192

    def cover_kernel(batches):
        from .grid import covering_cells_batch

        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                sub = pdf.iloc[lo : lo + chunk_rows]
                if not len(sub):
                    continue
                xs_l = sub[xs].tolist()
                ys_l = sub[ys].tolist()
                pid_vals = sub[poly_id]
                # structural validity, vectorized: NULL cells, length
                # mismatch, < 3 vertices, NaN ids (pd.factorize codes NaN
                # ids as -1, which would gather the WRONG ring in the PIP
                # stage)
                lx = np.fromiter(
                    (-1 if v is None else len(v) for v in xs_l), np.int64, len(xs_l)
                )
                ly = np.fromiter(
                    (-1 if v is None else len(v) for v in ys_l), np.int64, len(ys_l)
                )
                ok = (lx == ly) & (lx >= 3) & ~pd.isna(pid_vals).to_numpy()
                if not ok.any():
                    continue
                sel = np.flatnonzero(ok)
                lens = lx[sel]
                flat_x = np.concatenate(
                    [np.asarray(xs_l[i], dtype=np.float64) for i in sel]
                )
                flat_y = np.concatenate(
                    [np.asarray(ys_l[i], dtype=np.float64) for i in sel]
                )
                offs = np.cumsum(lens) - lens
                fin = np.isfinite(flat_x) & np.isfinite(flat_y)
                allfin = np.bitwise_and.reduceat(fin.astype(np.int8), offs).astype(bool)
                if not allfin.all():
                    sel = sel[allfin]
                    if not len(sel):
                        continue
                    keep_v = np.repeat(allfin, lens)
                    lens = lens[allfin]
                    flat_x = flat_x[keep_v]
                    flat_y = flat_y[keep_v]
                    offs = np.cumsum(lens) - lens
                # span guard (identical semantics/message to the per-ring
                # path: bbox-corner encode bounds, +3 slop per axis)
                from .grid import encode as _encode
                from .grid import unpack as _unpack

                nB = len(sel)
                bx0 = np.minimum.reduceat(flat_x, offs)
                bx1 = np.maximum.reduceat(flat_x, offs)
                by0 = np.minimum.reduceat(flat_y, offs)
                by1 = np.maximum.reduceat(flat_y, offs)
                _, _, cr4, cc4 = _unpack(
                    _encode(
                        np.concatenate([bx0, bx1, bx0, bx1]),
                        np.concatenate([by0, by0, by1, by1]),
                        spec,
                    )
                )
                cr4 = cr4.reshape(4, nB)
                cc4 = cc4.reshape(4, nB)
                span = (cr4.max(axis=0) - cr4.min(axis=0) + 3) * (
                    cc4.max(axis=0) - cc4.min(axis=0) + 3
                )
                if (span > cap).any():
                    bad = int(span[span > cap][0])
                    raise ValueError(
                        f"polygon bbox covers {bad} candidate tiles > "
                        f"max_tiles_per_poly={cap}; coarsen the grid or "
                        "split the geometry"
                    )
                ridx, cells = covering_cells_batch(flat_x, flat_y, offs, lens, spec)
                if not len(cells):
                    continue
                # closed-ring bytes per ring, exactly the per-ring layout:
                # vertices (+ closing v0 only when the input ring is open)
                from .grid import _pad_rings

                pad = _pad_rings(flat_x, flat_y, offs, lens)
                closed = (flat_x[offs] == flat_x[offs + lens - 1]) & (
                    flat_y[offs] == flat_y[offs + lens - 1]
                )
                clen = lens + (~closed).astype(np.int64)
                ring_bytes = np.empty(nB, dtype=object)
                for i in range(nB):
                    ring_bytes[i] = pad[i, : clen[i]].tobytes()
                pid_np = pid_vals.to_numpy()[sel]
                yield pd.DataFrame(
                    {
                        "cell_id": cells,
                        poly_id: pid_np[ridx],
                        "_ring": ring_bytes[ridx],
                        "_pbx0": bx0[ridx],
                        "_pbx1": bx1[ridx],
                        "_pby0": by0[ridx],
                        "_pby1": by1[ridx],
                    }
                )

    cover = polys.mapInPandas(cover_kernel, cover_schema)
    _aux = ["_ring", "_pbx0", "_pbx1", "_pby0", "_pby1"]
    coarse = docs_with_cell.join(
        F.broadcast(cover) if broadcast_cover else cover, "cell_id"
    )
    if not exact:
        return coarse.drop(*_aux)

    @F.pandas_udf("boolean")
    def _pip_ring(
        x: pd.Series, y: pd.Series, pid: pd.Series, rings_col: pd.Series
    ) -> pd.Series:
        from .grid import point_in_polygons_grouped

        if len(x) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        # factorize on poly_id (vectorized — a per-row Python grouping
        # loop here measured 40 s over 6.4M candidates), convert each
        # DISTINCT ring once, then one gathered points×edges PIP pass
        codes, _ = pd.factorize(pid)
        _, first_ix = np.unique(codes, return_index=True)
        rings = [
            np.frombuffer(rings_col.iloc[i], dtype=np.float64).reshape(-1, 2)
            for i in first_ix
        ]
        return pd.Series(
            point_in_polygons_grouped(
                x.to_numpy(np.float64), y.to_numpy(np.float64), codes, rings
            )
        )

    # JVM bbox prefilter first (codegen, no Python): ray-cast PIP is False
    # strictly outside the ring bbox and boundary-inclusive on it, so this
    # drops only rows the Arrow kernel would reject — measured ~2-3x fewer
    # rows paying the Python boundary on parcel-sized polygons
    return (
        coarse.filter(
            (F.col("x") >= F.col("_pbx0"))
            & (F.col("x") <= F.col("_pbx1"))
            & (F.col("y") >= F.col("_pby0"))
            & (F.col("y") <= F.col("_pby1"))
        )
        .filter(_pip_ring(F.col("x"), F.col("y"), F.col(poly_id), F.col("_ring")))
        .drop(*_aux)
    )


def zonal_weighted(
    tiles: DataFrame,
    zones: dict[str, list[tuple[float, float]]],
    spec: GridSpec,
    value_cols: tuple[str, ...] = ("pixelval",),
) -> DataFrame:
    """Area-weighted zonal statistics (polygon overlay / areal
    interpolation): each tile's value is apportioned to a zone by the
    FRACTION of the tile's area inside the zone polygon —
    ``w_<c> = Σ_tiles area(tile ∩ zone)·c / tile_area`` — plus the covered
    area itself. Complements :func:`spatial_join`'s point-level zonal
    stats when only the raster (not the points) is available; exact
    polygon-overlay aggregation under the uniform-density-per-tile model.

    Scale shape: stage 1 is the same broadcast covering-cells equi-join as
    the spatial join (a tile meets only zones whose cover contains it);
    stage 2 clips in one Arrow kernel per batch (Sutherland–Hodgman
    against the convex tile polygon — square AND hex grids, any simple
    zone polygon). Numerics: the aggregate sums AREA·value products and
    divides by the tile area once per zone AFTER aggregation — for
    rectilinear zones on representable coordinates the summed terms are
    exact, so the result is independent of summation order (the property
    the DuckDB oracle's bitwise comparison relies on).
    """
    from .grid import polygon_vertices, ring_area, tile_clip_areas

    spark = tiles.sparkSession
    rows: list[tuple[int, str]] = []
    rings: dict[str, np.ndarray] = {}
    for zid, verts in zones.items():
        ring = np.asarray(verts, dtype=np.float64)
        if not (ring[0] == ring[-1]).all():
            ring = np.vstack([ring, ring[:1]])
        rings[zid] = ring
        for c in covering_cells(ring, spec):
            rows.append((int(c), zid))
    schema = "zone_id string, covered_area double" + "".join(
        f", w_{c} double" for c in value_cols
    )
    if not rows:
        return spark.createDataFrame([], schema)
    cover = spark.createDataFrame(rows, "cell_id long, zone_id string")
    cand = tiles.join(F.broadcast(cover), "cell_id")
    ring_items = list(rings.items())

    @F.pandas_udf("double")
    def _area(cell_id: pd.Series, zid: pd.Series) -> pd.Series:
        cv = cell_id.to_numpy(np.int64)
        zv = zid.to_numpy()
        out = np.zeros(len(cv), dtype=np.float64)
        for z, ring in ring_items:
            mask = zv == z
            if mask.any():
                out[mask] = tile_clip_areas(cv[mask], ring, spec)
        return pd.Series(out)

    # every tile of one grid is congruent — measure one
    tile_area = ring_area(
        polygon_vertices(np.array([rows[0][0]], dtype=np.int64), spec)[0]
    )
    w = cand.withColumn(
        "_area", _area(F.col("cell_id"), F.col("zone_id"))
    ).filter(F.col("_area") > 0.0)
    out = w.groupBy("zone_id").agg(
        F.sum("_area").alias("covered_area"),
        *[F.sum(F.col("_area") * F.col(c)).alias(f"w_{c}") for c in value_cols],
    )
    for c in value_cols:
        out = out.withColumn(f"w_{c}", F.col(f"w_{c}") / F.lit(float(tile_area)))
    return out


def rasterize_polygons(
    polys: DataFrame,
    spec: GridSpec,
    value_cols: tuple[str, ...] = (),
    max_tiles_per_poly: int = 262144,
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """Coverage raster from a polygon CORPUS — the terra::rasterize(polygons)
    analog, and the many-polygons counterpart of :func:`zonal_weighted`
    (which takes a broadcast-sized zone dict): per tile, ``n_polys``
    (polygons with positive overlap), ``cov_area`` (Σ area(tile ∩ poly)),
    ``cov_frac`` = cov_area / tile_area (> 1 where polygons overlap), and
    ``w_<c>`` = Σ area·c / tile_area per burn-value column.

    Input is a DataFrame with ring vertex arrays ``xs``/``ys`` (open or
    closed, any simple polygon, any orientation) — polygons are DATA, not
    driver-side literals, so the corpus can be arbitrarily large. Scale
    shape (the segment-op pattern): one mapInPandas kernel clips each
    polygon against its bbox tiles (±1 safety ring) and emits per-batch
    partial aggregates via bincount, so only O(distinct cells) rows cross
    the Python boundary or the ONE final shuffle. Axis-aligned rectangles
    take a fully vectorized closed-form overlap path (bitwise-equal to the
    Sutherland-Hodgman clip for rectilinear rings on representable
    coordinates — the property the oracle relies on); general rings run
    the S-H kernel per candidate tile. A polygon whose candidate-tile
    count exceeds ``max_tiles_per_poly`` raises loudly (coarsen the grid
    or pre-split the geometry); the guard bounds what each path actually
    MATERIALIZES — the grid-clamped bbox on the rect fast path, the full
    unclamped bbox meshgrid that ``covering_cells`` builds on the general
    path — so a mostly-off-grid geometry may pass as a 4-vertex rect but
    raise when written with a collinear fifth vertex. Degenerate rings
    (< 3 vertices, non-finite coordinates) are dropped. Square and hex
    grids alike.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .grid import ring_area, tile_clip_areas

    tile_area = ring_area(
        polygon_vertices(np.array([_pack_py(spec, 0, 0)], dtype=np.int64), spec)[0]
    )
    fields = [
        StructField("cell_id", LongType()),
        StructField("n_polys", LongType()),
        StructField("cov_area", DoubleType()),
    ]
    fields += [StructField(f"w_{c}", DoubleType()) for c in value_cols]
    partial_schema = StructType(fields)
    res = spec.resolution
    xmin, ymin = spec.xmin, spec.ymin
    ncols, nrows = spec.ncols, spec.nrows
    cap = max_tiles_per_poly

    def rect_block(pdf, rect_ix, rects):
        """Fully vectorized closed-form burn for a block of axis-aligned
        rects (the common zone-mask case): two-stage arange/repeat
        expansion of bbox tiles — no per-polygon Python iteration at all.
        Same overlap expression tree as the per-polygon rect path, so
        results are bitwise-identical."""
        from .grid import pack as _pack_np

        xa = np.array([r[0] for r in rects])
        ya = np.array([r[1] for r in rects])
        xb = np.array([r[2] for r in rects])
        yb = np.array([r[3] for r in rects])
        c0 = np.maximum(np.floor((xa - xmin) / res).astype(np.int64), 0)
        c1 = np.minimum(np.floor((xb - xmin) / res).astype(np.int64), ncols - 1)
        r0 = np.maximum(np.floor((ya - ymin) / res).astype(np.int64), 0)
        r1 = np.minimum(np.floor((yb - ymin) / res).astype(np.int64), nrows - 1)
        ok = (c0 <= c1) & (r0 <= r1)
        if not ok.any():
            return None
        keep = np.nonzero(ok)[0]
        c0, c1, r0, r1 = c0[keep], c1[keep], r0[keep], r1[keep]
        span = (c1 - c0 + 1) * (r1 - r0 + 1)
        if (span > cap).any():
            raise ValueError(
                f"polygon bbox covers {int(span.max())} candidate tiles > "
                f"max_tiles_per_poly={cap}; coarsen the grid or split the "
                "geometry"
            )
        colspan = c1 - c0 + 1
        n1 = int(colspan.sum())
        pix = np.repeat(np.arange(len(keep)), colspan)
        starts = np.cumsum(colspan) - colspan
        ci = np.arange(n1, dtype=np.int64) - np.repeat(starts, colspan) + np.repeat(c0, colspan)
        rowspan = (r1 - r0 + 1)[pix]
        n2 = int(rowspan.sum())
        starts2 = np.cumsum(rowspan) - rowspan
        strip = np.repeat(np.arange(n1), rowspan)
        ri = np.arange(n2, dtype=np.int64) - np.repeat(starts2, rowspan) + r0[pix][strip]
        pixf = pix[strip]
        cif = ci[strip]
        tx0 = xmin + cif.astype(np.float64) * res
        ty0 = ymin + ri.astype(np.float64) * res
        ov = np.maximum(
            0.0, np.minimum(tx0 + res, xb[keep][pixf]) - np.maximum(tx0, xa[keep][pixf])
        ) * np.maximum(
            0.0, np.minimum(ty0 + res, yb[keep][pixf]) - np.maximum(ty0, ya[keep][pixf])
        )
        pos = ov > 0.0
        if not pos.any():
            return None
        cells = _pack_np(spec.mode, spec.level, ri[pos], cif[pos])
        orig = np.asarray(rect_ix, dtype=np.int64)[keep][pixf[pos]]
        return cells, ov[pos], orig

    def kernel(batches):
        from .grid import encode as _encode
        from .grid import unpack as _unpack

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells_acc: list[np.ndarray] = []
            areas_acc: list[np.ndarray] = []
            vals_acc: dict[str, list[np.ndarray]] = {c: [] for c in value_cols}
            rect_ix: list[int] = []
            rects: list[tuple[float, float, float, float]] = []
            for i in range(len(pdf)):
                raw_x, raw_y = pdf[xs].iloc[i], pdf[ys].iloc[i]
                if raw_x is None or raw_y is None:
                    continue
                rx = np.asarray(raw_x, dtype=np.float64)
                ry = np.asarray(raw_y, dtype=np.float64)
                if rx.ndim != 1 or ry.ndim != 1:
                    continue
                if len(rx) != len(ry) or len(rx) < 3:
                    continue
                if not (np.isfinite(rx).all() and np.isfinite(ry).all()):
                    continue
                if spec.square:
                    rect = _as_rect(rx, ry)
                    if rect is not None:
                        rect_ix.append(i)
                        rects.append(rect)
                        continue
                ring = np.column_stack([rx, ry])
                # covering_cells / tile_clip_areas edge-walk ring[:-1]->
                # ring[1:], so an OPEN ring silently loses its closing edge
                # (and with it most interior PIP hits) — close it here
                if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
                    ring = np.vstack([ring, ring[:1]])
                # cap check BEFORE materializing the candidate meshgrid,
                # using the same bbox-corner encoding covering_cells uses
                bx = np.array([rx.min(), rx.max(), rx.min(), rx.max()])
                by = np.array([ry.min(), ry.min(), ry.max(), ry.max()])
                _, _, crows, ccols = _unpack(_encode(bx, by, spec))
                span = int(crows.max() - crows.min() + 3) * int(
                    ccols.max() - ccols.min() + 3
                )
                if span > cap:
                    raise ValueError(
                        f"polygon bbox covers {span} candidate tiles > "
                        f"max_tiles_per_poly={cap}; coarsen the grid or "
                        "split the geometry"
                    )
                cells = covering_cells(ring, spec)
                if len(cells) == 0:
                    continue
                _, _, trows, tcols = _unpack(cells)
                if spec.square:
                    # covering_cells does not clamp to the grid extent;
                    # hex axial coords are legitimately signed — no clamp
                    on_grid = (
                        (trows >= 0) & (trows < nrows)
                        & (tcols >= 0) & (tcols < ncols)
                    )
                    if not on_grid.any():
                        continue
                    cells = cells[on_grid]
                    trows, tcols = trows[on_grid], tcols[on_grid]
                areas = tile_clip_areas(cells, ring, spec)
                pos = areas > 0.0
                if not pos.any():
                    continue
                cells_acc.append(cells[pos])
                areas_acc.append(areas[pos])
                for c in value_cols:
                    # NULL burn contributes 0 to the weighted sum (SQL
                    # sum-ignores-NULL semantics) but still counts coverage
                    v = pdf[c].iloc[i]
                    v = 0.0 if pd.isna(v) else float(v)
                    vals_acc[c].append(areas[pos] * v)
            if rects:
                rb = rect_block(pdf, rect_ix, rects)
                if rb is not None:
                    rcells, rareas, rorig = rb
                    cells_acc.append(rcells)
                    areas_acc.append(rareas)
                    for c in value_cols:
                        v = np.nan_to_num(
                            pdf[c].to_numpy(dtype=np.float64)[rorig],
                            nan=0.0, posinf=np.inf, neginf=-np.inf,
                        )
                        vals_acc[c].append(rareas * v)
            if not cells_acc:
                continue
            cell = np.concatenate(cells_acc)
            area = np.concatenate(areas_acc)
            cells_u, inv = np.unique(cell, return_inverse=True)
            ncell = len(cells_u)
            data = {
                "cell_id": cells_u,
                "n_polys": np.bincount(inv, minlength=ncell).astype(np.int64),
                "cov_area": np.bincount(inv, weights=area, minlength=ncell),
            }
            for c in value_cols:
                data[f"w_{c}"] = np.bincount(
                    inv, weights=np.concatenate(vals_acc[c]), minlength=ncell
                )
            yield pd.DataFrame(data)

    partials = polys.mapInPandas(kernel, partial_schema)
    aggs = [
        F.sum("n_polys").alias("n_polys"),
        F.sum("cov_area").alias("cov_area"),
    ]
    aggs += [F.sum(f"w_{c}").alias(f"w_{c}") for c in value_cols]
    out = partials.groupBy("cell_id").agg(*aggs)
    out = out.withColumn(
        "cov_frac", F.col("cov_area") / F.lit(float(tile_area))
    )
    for c in value_cols:
        out = out.withColumn(f"w_{c}", F.col(f"w_{c}") / F.lit(float(tile_area)))
    return out


def _pack_py(spec: GridSpec, row: int, col: int) -> int:
    from .grid import pack

    return int(pack(spec.mode, spec.level, np.array([row]), np.array([col]))[0])


def _as_rect(rx: np.ndarray, ry: np.ndarray):
    """Detect an axis-aligned rectangle ring (open or closed, either
    orientation, any starting vertex): exactly two distinct x values and
    two distinct y values, 4 distinct vertices, every edge axis-parallel.
    Returns (xa, ya, xb, yb) or None."""
    px, py = rx, ry
    if len(px) >= 2 and px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    if len(px) != 4:
        return None
    ux, uy = np.unique(px), np.unique(py)
    if len(ux) != 2 or len(uy) != 2:
        return None
    # every consecutive edge must change exactly one coordinate
    for j in range(4):
        k = (j + 1) % 4
        if (px[j] != px[k]) == (py[j] != py[k]):
            return None
    return float(ux[0]), float(uy[0]), float(ux[1]), float(uy[1])


def raster_algebra(
    tiles_a: DataFrame,
    tiles_b: DataFrame,
    op: str = "diff",
    value_col: str = "pixelval",
    keys: list[str] | None = None,
    how: str = "outer",
) -> DataFrame:
    """Tile-aligned algebra between two rasters on one grid: join on cell_id
    (+ optional extra keys like feature/kind) and combine the value columns.
    Missing tiles are structural zeros (reference sparsity semantics,
    R/main.R:157-161). op ∈ {diff, sum, ratio, min, max}."""
    ks = ["cell_id"] + list(keys or [])
    a = tiles_a.select(*ks, F.col(value_col).alias("_a"))
    b = tiles_b.select(*ks, F.col(value_col).alias("_b"))
    j = a.join(b, ks, how)
    va = F.coalesce(F.col("_a"), F.lit(0.0))
    vb = F.coalesce(F.col("_b"), F.lit(0.0))
    ops = {
        "diff": va - vb,
        "sum": va + vb,
        "ratio": F.when(vb != 0.0, va / vb),
        "min": F.least(va, vb),
        "max": F.greatest(va, vb),
    }
    if op not in ops:
        raise ValueError(f"op must be one of {sorted(ops)}")
    return j.withColumn(op, ops[op]).drop("_a", "_b")


def filter_by_polygon(
    docs_with_cell: DataFrame,
    ring_vertices: list[tuple[float, float]],
    spec: GridSpec,
    exact: bool = True,
) -> DataFrame:
    """Vector → raster join: keep docs inside the polygon (open or closed
    ring). This is :func:`spatial_join` with one ring — the broadcast
    covering-cell equi-join, then (``exact``) the vectorized ray-cast PIP on
    its survivors — returning exactly the input columns. The cover holds
    each cell once, so each doc is kept at most once; ``exact=False``
    returns the coarse cover (a superset: every doc in a covering tile)."""
    out = spatial_join(docs_with_cell, {"polygon": ring_vertices}, spec, exact=exact)
    return out.select(*[F.col(quote(c)) for c in docs_with_cell.columns])
