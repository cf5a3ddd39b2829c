"""Raster ↔ vector round-trips.

Raster → vector: every tile polygonized to WKT / GeoJSON in closed form from
its cell id (reference keeps sfc_POLYGON geometry in colData,
``R/main.R:191-193``; we synthesize the ring on demand instead of ever
materializing a grid).

Vector → raster: every polygon entry point (``spatial_join``,
``filter_by_polygon``, ``spatial_join_corpus``, ``zonal_weighted``,
``rasterize_polygons``) maps its rings to covering cell sets through one
step, :func:`_ring_covers` over :func:`_valid_rings` — validate, close,
span-guard, then ``grid.covering_cells_batch`` (bbox → ring of candidate
cells → centroid-in-polygon filter + boundary band) on groups of rings
whose candidates × edges fit one memory budget. The cover is then joined to
the documents table — an equi-join on cell_id, never a per-row geometry
test against the big table; the exact ray-cast test runs on the join's
survivors only, one grouped Arrow kernel for every ring.
"""

from __future__ import annotations

import json
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .expressions import quote
from .grid import GridSpec, polygon_vertices
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


_MAX_TILES_PER_POLY = 262144

# Σ candidate tiles × padded edges per covering_cells_batch call: bounds the
# cover's (candidates × edges) float64 temporaries to ~8 MiB each whatever
# the batch size; a ring over it on its own is covered alone, at the cost
# of one per-ring cover
_COVER_BUDGET = 1 << 20

# a cover row's ring bbox columns
_BOX = ("_pbx0", "_pbx1", "_pby0", "_pby1")


class _Rings(NamedTuple):
    """Ragged storage of validated, closed rings: ring ``i`` is
    ``x[offs[i] : offs[i] + lens[i]]`` (and ``y``), ``sel[i]`` is its row in
    the input and ``box[i]`` its ``(x0, x1, y0, y1)`` bbox."""

    sel: np.ndarray
    x: np.ndarray
    y: np.ndarray
    offs: np.ndarray
    lens: np.ndarray
    box: np.ndarray

    def take(self, idx: np.ndarray) -> "_Rings":
        lens = self.lens[idx]
        offs = np.cumsum(lens) - lens
        v = np.repeat(self.offs[idx] - offs, lens) + np.arange(int(lens.sum()))
        return _Rings(self.sel[idx], self.x[v], self.y[v], offs, lens, self.box[idx])

    def xy(self) -> list[np.ndarray]:
        """Each ring as a closed ``(k, 2)`` vertex array."""
        xy = np.column_stack([self.x, self.y])
        return [xy[o : o + k] for o, k in zip(self.offs, self.lens)]


def _valid_rings(xs_l: list, ys_l: list, bad: np.ndarray | None = None) -> _Rings:
    """The usable rings among the vertex lists ``xs_l``/``ys_l``, each
    closed (v0 appended to an open ring). Degenerate rings are dropped: a
    NULL ring, ``xs``/``ys`` lengths that differ, fewer than 3 vertices, a
    non-finite coordinate, or a row flagged in ``bad`` (a NULL id)."""
    n = len(xs_l)
    lx = np.fromiter((-1 if v is None else len(v) for v in xs_l), np.int64, n)
    ly = np.fromiter((-1 if v is None else len(v) for v in ys_l), np.int64, n)
    ok = (lx == ly) & (lx >= 3)
    if bad is not None:
        ok &= ~bad
    sel = np.flatnonzero(ok)
    lens = lx[sel]
    offs = np.cumsum(lens) - lens
    if not len(sel):
        z = np.zeros(0)
        return _Rings(sel, z, z, offs, lens, np.zeros((0, 4)))
    x = np.concatenate([np.asarray(xs_l[i], dtype=np.float64) for i in sel])
    y = np.concatenate([np.asarray(ys_l[i], dtype=np.float64) for i in sel])
    box = np.stack(
        [f.reduceat(v, offs) for v in (x, y) for f in (np.minimum, np.maximum)], axis=1
    )
    r = _Rings(sel, x, y, offs, lens, box)
    fin = np.isfinite(box).all(axis=1)
    if not fin.all():
        r = r.take(np.flatnonzero(fin))
    last = r.offs + r.lens - 1
    op = (r.x[r.offs] != r.x[last]) | (r.y[r.offs] != r.y[last])
    if op.any():
        at = (r.offs + r.lens)[op]
        lens = r.lens + op
        r = r._replace(
            x=np.insert(r.x, at, r.x[r.offs[op]]),
            y=np.insert(r.y, at, r.y[r.offs[op]]),
            offs=np.cumsum(lens) - lens,
            lens=lens,
        )
    return r


def _ring_covers(rings: _Rings, spec: GridSpec, cap: int | None):
    """The one vector → raster cover step: yields ``(group, ridx, cells)``,
    ``group`` a run of consecutive rings whose candidate tiles × padded
    edges fit :data:`_COVER_BUDGET` and ``(ridx, cells)`` its
    ``covering_cells_batch`` pairs (each ring's cells ascending by id, as
    ``covering_cells`` returns them). Raises before materializing anything
    when one ring's candidate bbox (corner-encode bounds, +1 tile per side)
    holds more than ``cap`` tiles; ``cap=None`` sets no limit."""
    from .grid import covering_cells_batch, encode, unpack

    n = len(rings.sel)
    if not n:
        return
    x0, x1, y0, y1 = rings.box.T
    _, _, r4, c4 = unpack(
        encode(np.concatenate([x0, x1, x0, x1]), np.concatenate([y0, y0, y1, y1]), spec)
    )
    r4, c4 = r4.reshape(4, n), c4.reshape(4, n)
    span = (r4.max(axis=0) - r4.min(axis=0) + 3) * (c4.max(axis=0) - c4.min(axis=0) + 3)
    if cap is not None and (span > cap).any():
        raise ValueError(
            f"polygon bbox covers {int(span[span > cap][0])} candidate tiles > "
            f"max_tiles_per_poly={cap}; coarsen the grid or split the geometry"
        )
    bounds = [0]
    cand = edges = 0
    for i, (c, e) in enumerate(zip(span.tolist(), rings.lens.tolist())):
        if i > bounds[-1] and (cand + c) * max(edges, e) > _COVER_BUDGET:
            bounds.append(i)
            cand = edges = 0
        cand += c
        edges = max(edges, e)
    bounds.append(n)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        g = rings if hi - lo == n else rings.take(np.arange(lo, hi))
        yield (g, *covering_cells_batch(g.x, g.y, g.offs, g.lens, spec))


def _dict_rings(polygons: dict[str, list[tuple[float, float]]]) -> tuple[list, _Rings]:
    """Ids and validated rings of a driver-side ``{id: [(x, y), ...]}``
    dict. A degenerate ring or a NULL id (see :func:`_valid_rings`) raises:
    a literal polygon that cannot be covered is a caller error, not a row
    to drop."""
    ids = list(polygons)
    arrs = [np.asarray(v, dtype=np.float64) for v in polygons.values()]
    arrs = [a if a.ndim == 2 and a.shape[1] == 2 else None for a in arrs]
    xs_l, ys_l = ([None if a is None else a[:, k] for a in arrs] for k in (0, 1))
    rings = _valid_rings(xs_l, ys_l, np.asarray(pd.isna(ids), dtype=bool))
    if len(rings.sel) < len(ids):
        bad = [ids[i] for i in np.setdiff1d(np.arange(len(ids)), rings.sel)]
        raise ValueError(
            f"degenerate polygon ring(s) {bad}: a ring needs a non-NULL id and "
            "at least 3 finite (x, y) vertices"
        )
    return ids, rings


def spatial_join(
    docs_with_cell: DataFrame,
    polygons: dict[str, list[tuple[float, float]]],
    spec: GridSpec,
    exact: bool = True,
) -> DataFrame:
    """N-polygon containment join: docs × polygons → (doc rows, poly_id),
    for polygons given as a driver-side ``{poly_id: [(x, y), ...]}`` dict
    (open or closed rings). It is :func:`spatial_join_corpus` with
    ``broadcast_cover=True`` — same cover step, same join and PIP kernel,
    same columns (``cell_id``, the other input columns, ``poly_id``), same
    rows — except that the rings stay on the driver, where they already
    are: the cover is computed here, so its broadcast runs no Spark job and
    no Python worker (covering a one-row-per-ring frame with mapInPandas
    cost ~0.3 s more per call on 200k docs, 4 cores), and the exact test
    takes each ring from the UDF closure, so cover and candidate rows carry
    no ring bytes. Dict rings have no ``max_tiles_per_poly`` cap: the cover
    step's budget grouping bounds its memory, and a ring over the budget
    is covered on its own. A degenerate ring raises ``ValueError`` instead
    of being dropped.

    A doc inside k polygons yields k rows (standard spatial-join semantics).
    """
    from pyspark.sql.types import StringType

    ids, rings = _dict_rings(polygons)
    frames = _cover_frames(np.asarray(ids, dtype=object), rings, spec, None, "poly_id", False)
    cover = docs_with_cell.sparkSession.createDataFrame(
        [row for part in frames for row in zip(*(part[c].tolist() for c in part))],
        _cover_schema("poly_id", StringType(), ring_bytes=False),
    )
    held = dict(zip(ids, rings.xy()))
    return _cover_join(docs_with_cell, cover, "poly_id", exact, True, held)


def spatial_join_corpus(
    docs_with_cell: DataFrame,
    polys: DataFrame,
    spec: GridSpec,
    exact: bool = True,
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    broadcast_cover: bool = True,
    max_tiles_per_poly: int = _MAX_TILES_PER_POLY,
) -> DataFrame:
    """Containment join where the polygons are themselves a CORPUS: parcels
    × points at 100 TB means BOTH sides are DataFrames (:func:`spatial_join`
    is its driver-dict form).

    ``polys`` carries ring vertex arrays ``xs``/``ys`` (open or closed,
    any simple polygon) plus an id column. Stage 1: one mapInPandas kernel
    turns each polygon into its covering-cell set (:func:`_ring_covers`) —
    a slim (cell_id, poly_id, ring) table; the spatial join becomes an
    equi-join on cell_id (``broadcast_cover=True`` broadcasts it — right
    when the polygon corpus is dimension-sized; ``False`` is the
    corpus↔corpus shuffle shape, where AQE's skew splitting handles hot
    cells and the ring payload rides the one exchange so no second join is
    needed). Stage 2 (``exact``): vectorized ray-casting PIP over stage-1
    survivors, one Arrow batch kernel, grouped per distinct ring inside
    each batch. Output columns: ``cell_id``, the other ``docs_with_cell``
    columns, ``poly_id``. A doc inside k polygons yields k rows; boundary
    points count as inside. Degenerate rings (NULL / length mismatch / < 3
    vertices / non-finite / NULL id) are dropped; a polygon whose bbox
    cover exceeds ``max_tiles_per_poly`` raises loudly.
    """

    def cover_kernel(batches):
        for pdf in batches:
            ids = pdf[poly_id]
            # NULL/NaN ids are dropped: pd.factorize codes them -1, which
            # would gather the WRONG ring in the PIP stage
            rings = _valid_rings(pdf[xs].tolist(), pdf[ys].tolist(), pd.isna(ids).to_numpy())
            yield from _cover_frames(
                ids.to_numpy(), rings, spec, max_tiles_per_poly, poly_id, ring_bytes=True
            )

    cover = polys.mapInPandas(
        cover_kernel, _cover_schema(poly_id, polys.schema[poly_id].dataType, ring_bytes=True)
    )
    return _cover_join(docs_with_cell, cover, poly_id, exact, broadcast_cover)


def _cover_schema(poly_id: str, id_type, ring_bytes: bool):
    from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

    # ONE binary column per ring: 6.4M array<double> cells took ~2/3 of the
    # PIP stage in Arrow->pandas deserialization; bytes objects are ~an
    # order of magnitude cheaper to box
    ring = [StructField("_ring", BinaryType())] if ring_bytes else []
    # ring bbox: lets the exact path drop definitely-outside candidates with
    # a codegen'd JVM filter BEFORE they pay the Arrow boundary + ray-cast
    # (exact-conservative: ray-cast PIP is False strictly outside the bbox,
    # and boundary points satisfy the closed comparisons)
    box = [StructField(c, DoubleType()) for c in _BOX]
    return StructType(
        [StructField("cell_id", LongType()), StructField(poly_id, id_type), *ring, *box]
    )


def _cover_frames(
    ids: np.ndarray, rings: _Rings, spec: GridSpec, cap: int | None, poly_id: str, ring_bytes: bool
):
    """Stage 1 of the containment join: the :func:`_cover_schema` rows of
    every ring's cover, one pandas frame per cover group; ``ring_bytes``
    adds each row's ring as bytes, for rings that live only in the rows."""
    for g, ridx, cells in _ring_covers(rings, spec, cap):
        if not len(cells):
            continue
        cols = {"cell_id": cells, poly_id: ids[g.sel][ridx]}
        if ring_bytes:
            b = np.empty(len(g.sel), dtype=object)
            b[:] = [r.tobytes() for r in g.xy()]
            cols["_ring"] = b[ridx]
        cols.update({c: g.box[ridx, k] for k, c in enumerate(_BOX)})
        yield pd.DataFrame(cols)


def _cover_join(
    docs_with_cell: DataFrame, cover: DataFrame, poly_id: str, exact: bool, broadcast_cover: bool,
    held: dict | None = None,
) -> DataFrame:
    """Stages 1 (equi-join on cell_id) and 2 (exact ray cast) of the
    containment join, given the :func:`_cover_schema` cover table. The
    exact test takes each ring from ``held`` (id → closed ring, driver-side
    rings) or else from the cover rows' ``_ring`` bytes."""
    aux = [c for c in cover.columns if c.startswith("_")]
    coarse = docs_with_cell.join(
        F.broadcast(cover) if broadcast_cover else cover, "cell_id"
    )
    if not exact:
        return coarse.drop(*aux)

    def pip(x: pd.Series, y: pd.Series, pid: pd.Series, blob: pd.Series | None) -> pd.Series:
        from .grid import point_in_polygons_grouped

        if len(x) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        # factorize on poly_id (vectorized — a per-row Python grouping
        # loop here measured 40 s over 6.4M candidates), take each
        # DISTINCT ring once, then one gathered points×edges PIP pass
        codes, uniq = pd.factorize(pid)
        if blob is None:
            rings = [held[p] for p in uniq]
        else:
            first_ix = np.unique(codes, return_index=True)[1]
            rings = [np.frombuffer(blob.iloc[i]).reshape(-1, 2) for i in first_ix]
        xv, yv = x.to_numpy(np.float64), y.to_numpy(np.float64)
        return pd.Series(point_in_polygons_grouped(xv, yv, codes, rings))

    xyp = [F.col("x"), F.col("y"), F.col(poly_id)]
    if held is None:

        @F.pandas_udf("boolean")
        def _pip_ring(x: pd.Series, y: pd.Series, pid: pd.Series, blob: pd.Series) -> pd.Series:
            return pip(x, y, pid, blob)

        test = _pip_ring(*xyp, F.col("_ring"))
    else:

        @F.pandas_udf("boolean")
        def _pip_held(x: pd.Series, y: pd.Series, pid: pd.Series) -> pd.Series:
            return pip(x, y, pid, None)

        test = _pip_held(*xyp)

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
        .filter(test)
        .drop(*aux)
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

    Scale shape: stage 1 covers every zone in one driver-side
    :func:`_ring_covers` call (the spatial join's cover step, uncapped like
    the dict :func:`spatial_join`; a degenerate zone ring raises
    ``ValueError``) and broadcasts the (cell_id, zone_id) table — a tile
    meets only zones whose cover contains it; stage 2 clips in one Arrow
    kernel per batch (``grid.tile_clip_areas``: Sutherland–Hodgman against
    the convex tile polygon — square AND hex grids, any simple zone
    polygon). Numerics: the aggregate sums AREA·value products and divides
    by the tile area once per zone AFTER aggregation — for rectilinear
    zones on representable coordinates the summed terms are exact, so the
    result is independent of summation order (the property the DuckDB
    oracle's bitwise comparison relies on).
    """
    from .grid import ring_area, tile_clip_areas

    spark = tiles.sparkSession
    ids, rings = _dict_rings(zones)
    rows = [
        (c, ids[i])
        for g, ridx, cells in _ring_covers(rings, spec, None)
        for i, c in zip(g.sel[ridx].tolist(), cells.tolist())
    ]
    schema = "zone_id string, covered_area double" + "".join(
        f", w_{c} double" for c in value_cols
    )
    if not rows:
        return spark.createDataFrame([], schema)
    cover = spark.createDataFrame(rows, "cell_id long, zone_id string")
    cand = tiles.join(F.broadcast(cover), "cell_id")
    held = dict(zip(ids, rings.xy()))

    @F.pandas_udf("double")
    def _area(cell_id: pd.Series, zid: pd.Series) -> pd.Series:
        codes, uniq = pd.factorize(zid)
        rs = [held[z] for z in uniq]
        return pd.Series(tile_clip_areas(cell_id.to_numpy(np.int64), codes, rs, spec))

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
    max_tiles_per_poly: int = _MAX_TILES_PER_POLY,
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
    shape (the segment-op pattern): one mapInPandas kernel validates each
    batch's rings at once and emits per-batch partial aggregates via
    bincount, so only O(distinct cells) rows cross the Python boundary or
    the ONE final shuffle. Axis-aligned rectangles on a square grid take a
    fully vectorized closed-form overlap block (bitwise-equal to the
    Sutherland-Hodgman clip for rectilinear rings on representable
    coordinates — the property the oracle relies on); general rings are
    covered by the spatial join's cover step (:func:`_ring_covers`) and
    clipped (S-H) per candidate tile by ``grid.tile_clip_areas``. A
    polygon whose candidate-tile count exceeds ``max_tiles_per_poly``
    raises loudly (coarsen the grid or pre-split the geometry); the guard
    bounds what each path actually MATERIALIZES — the grid-clamped bbox on
    the rect block, the full unclamped bbox + 1 tile per side on the cover
    step — so a mostly-off-grid geometry may pass as a 4-vertex rect but
    raise when written with a collinear fifth vertex. Degenerate rings (NULL, length mismatch, < 3
    vertices, non-finite coordinates) are dropped. Square and hex grids
    alike.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .grid import box_tiles, pack, ring_area, tile_clip_areas, unpack

    origin = np.zeros(1, dtype=np.int64)
    tile_area = ring_area(polygon_vertices(pack(spec.mode, spec.level, origin, origin), spec)[0])
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

    def rect_block(rect_rows, xa, ya, xb, yb):
        """Fully vectorized closed-form burn for a block of axis-aligned
        rects (the common zone-mask case): one ``grid.box_tiles``
        expansion of the bbox tiles — no per-polygon Python iteration at
        all. Same overlap per tile as the S-H clip, bitwise. It keeps its own
        cap on the GRID-CLAMPED bbox because that is all it materializes:
        no candidate ring outside the grid and no edge arrays, unlike the
        cover step, whose guard counts the unclamped bbox + 1 tile per
        side."""
        c0 = np.maximum(np.floor((xa - xmin) / res).astype(np.int64), 0)
        c1 = np.minimum(np.floor((xb - xmin) / res).astype(np.int64), ncols - 1)
        r0 = np.maximum(np.floor((ya - ymin) / res).astype(np.int64), 0)
        r1 = np.minimum(np.floor((yb - ymin) / res).astype(np.int64), nrows - 1)
        keep = np.flatnonzero((c0 <= c1) & (r0 <= r1))
        span = (c1 - c0 + 1)[keep] * (r1 - r0 + 1)[keep]
        if (span > cap).any():
            raise ValueError(
                f"polygon bbox covers {int(span.max())} candidate tiles > "
                f"max_tiles_per_poly={cap}; coarsen the grid or split the "
                "geometry"
            )
        k, ri, ci = box_tiles(r0[keep], r1[keep], c0[keep], c1[keep])
        rect = keep[k]
        tx0 = xmin + ci.astype(np.float64) * res
        ty0 = ymin + ri.astype(np.float64) * res
        ov = np.maximum(
            0.0, np.minimum(tx0 + res, xb[rect]) - np.maximum(tx0, xa[rect])
        ) * np.maximum(
            0.0, np.minimum(ty0 + res, yb[rect]) - np.maximum(ty0, ya[rect])
        )
        pos = ov > 0.0
        return pack(spec.mode, spec.level, ri[pos], ci[pos]), ov[pos], rect_rows[rect[pos]]

    def kernel(batches):
        for pdf in batches:
            rings = _valid_rings(pdf[xs].tolist(), pdf[ys].tolist())
            is_rect = np.zeros(len(rings.sel), dtype=bool)
            if spec.square:
                is_rect, xa, ya, xb, yb = _rects(rings)
            parts = []  # (cells, areas, input rows): general rings, then rects
            general = rings.take(np.flatnonzero(~is_rect))
            for g, ridx, cells in _ring_covers(general, spec, cap):
                if spec.square:
                    # the cover is not clamped to the grid extent; hex
                    # axial coords are legitimately signed — no clamp
                    _, _, trows, tcols = unpack(cells)
                    on_grid = (
                        (trows >= 0) & (trows < nrows) & (tcols >= 0) & (tcols < ncols)
                    )
                    ridx, cells = ridx[on_grid], cells[on_grid]
                areas = tile_clip_areas(cells, ridx, g.xy(), spec)
                pos = areas > 0.0
                parts.append((cells[pos], areas[pos], g.sel[ridx[pos]]))
            if is_rect.any():
                parts.append(rect_block(rings.sel[is_rect], xa, ya, xb, yb))
            if not parts:
                continue
            cell, area, row = (np.concatenate(p) for p in zip(*parts))
            if not len(cell):
                continue
            cells_u, inv = np.unique(cell, return_inverse=True)
            ncell = len(cells_u)
            data = {
                "cell_id": cells_u,
                "n_polys": np.bincount(inv, minlength=ncell).astype(np.int64),
                "cov_area": np.bincount(inv, weights=area, minlength=ncell),
            }
            for c in value_cols:
                # NULL burn contributes 0 to the weighted sum (SQL
                # sum-ignores-NULL semantics) but still counts coverage
                v = np.nan_to_num(
                    pdf[c].to_numpy(dtype=np.float64)[row],
                    nan=0.0, posinf=np.inf, neginf=-np.inf,
                )
                data[f"w_{c}"] = np.bincount(inv, weights=area * v, minlength=ncell)
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


def _rects(rings: _Rings):
    """Which closed rings are axis-aligned rectangles (either orientation,
    any starting vertex): 4 vertices before closure, exactly two distinct x
    and two distinct y values, every edge changing exactly one coordinate.
    Returns the mask and the rects' ``xa, ya, xb, yb`` (min/max) bounds."""
    m = rings.lens == 5
    v = rings.offs[m][:, None] + np.arange(4)
    X, Y = rings.x[v], rings.y[v]
    sx, sy = np.sort(X, axis=1), np.sort(Y, axis=1)
    ok = (
        ((sx[:, 1:] != sx[:, :-1]).sum(axis=1) == 1)
        & ((sy[:, 1:] != sy[:, :-1]).sum(axis=1) == 1)
        & ((X != np.roll(X, -1, axis=1)) != (Y != np.roll(Y, -1, axis=1))).all(axis=1)
    )
    m[m] = ok
    return m, sx[ok, 0], sy[ok, 0], sx[ok, 3], sy[ok, 3]


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
