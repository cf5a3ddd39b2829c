"""Core rasterization operators — SEraster's kernel re-expressed as
single-shuffle Spark aggregation.

Reference dataflow (``R/main.R:98-197`` ``rasterizeMatrix``): materialize a
polygon grid → spatial-index join points→pixels → per-pixel task fan-out
(``bplapply``) slicing the matrix → driver-side assembly. The Spark engine
replaces all of that with one kernel:

    docs → cell_id = closed-form encode (JVM Column math)
         → ONE hash aggregate groupBy(cell_id[, feature]) with map-side
           partial combine — the only step each entry point writes itself
         → broadcast-join per-tile num_cell (mean denominator) [+ roster]
         → project pixelval, centroid / pixel name (all closed-form)

As in the reference, where ``rasterizeGeneExpression`` and
``rasterizeCellType`` both delegate to ``rasterizeMatrix``
(``R/main.R:316,355,544``), the last two steps are one private function,
:func:`_with_tile_meta`. ``rasterize_gene_expression`` (``sum``),
``rasterize_gene_expression_deterministic`` (an ordered fold),
``rasterize_matrix`` (triplets joined to positions) and
``rasterize_cell_type(collect_roster=True)`` (label counts) only compute
their per-(tile, feature) totals and call it. The one exception is
``rasterize_cell_type``'s default: every doc has one label, so num_cell is a
window sum over the aggregated tiles rather than a second aggregate + join.

Semantics preserved from the reference:

* ``fun="mean"`` divides by the number of docs in the tile — including docs
  with a structural zero for the feature — NOT by the count of present
  triplets (``R/main.R:146-150``; SURVEY.md §2.1-A1). So mean =
  sum(value) / num_cell, never ``F.avg``.
* Empty tiles are dropped, so #tiles ≤ #docs (``R/main.R:179``;
  test-main.R:46) — a natural consequence of groupBy.
* Tile roster ``cellID_list`` is sorted for determinism (``R/main.R:155``;
  collect_list is order-nondeterministic → always sort_array).
* Pixel names follow full-grid row-major numbering, 1-based, and keep their
  index after empty tiles are dropped (``R/main.R:127-129,175``).
* Output carries ``type`` ∈ {square,hexagon} and ``resolution`` literals
  (``R/main.R:183-189``).

Driver cost: each operator is planned with one projection per step, and
every tile expression is SQL text from :mod:`seraster_spark.expressions`
wrapped in one ``F.expr``. Built from ``Column`` operators and
``withColumn`` chains, ``rasterize_cell_type`` made 1328 py4j round trips
(1707 for hex) before any job ran; the analyzed plans are the same either
way, so only that fixed driver cost changes.

Scale notes (100 TB design):

* The heavy ``spans`` payload NEVER enters the shuffle: aggregation runs on a
  slim (cell_id, kind / feature, value) projection; Parquet column pruning
  keeps spans off the scan wherever the query doesn't need them.
* sum/count aggregates get map-side partial combine for free; the only
  skew-sensitive aggregate is ``collect_list`` (roster), which supports a
  salted two-phase mode (``salt_buckets``) — stage 1 groupBy(cell_id, salt)
  builds partial lists, stage 2 flattens; AQE skew-join splitting covers the
  join side.
* num_cell side-table is broadcast (tiles ≪ docs — the premise of
  rasterization).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from . import expressions as X
from .bbox import BBox, grid_spec_for
from .grid import GridSpec

VALID_FUNS = ("sum", "mean")


def _resolve_assay(
    docs: DataFrame, assay_col: str | None, assay_name: str | None
) -> DataFrame:
    """Reference assay selection semantics (``R/main.R:315-321,354-359``):
    validate ``assay_name`` against the assays actually present (eager, one
    column-pruned distinct over a low-cardinality column) and default to the
    first (lexicographically, for determinism — a DataFrame has no slot
    order) when unspecified."""
    if assay_col is None:
        if assay_name is not None:
            raise ValueError("assay_name given but no assay_col to select on")
        return docs
    avail = sorted(
        v for (v,) in docs.select(assay_col).distinct().collect() if v is not None
    )
    if not avail:
        raise ValueError(f"assay column {assay_col!r} has no non-null values")
    if assay_name is None:
        assay_name = avail[0]
    elif assay_name not in avail:
        raise ValueError(
            f"assay_name {assay_name!r} does not exist in the input; "
            f"available: {avail} (R/main.R:318-319)"
        )
    return docs.filter(F.col(assay_col) == assay_name)


def _cell_id(spec: GridSpec, x_col: str = "x", y_col: str = "y") -> str:
    return X.cell_id_sql(X.ident(x_col), X.ident(y_col), spec)


def assign_tiles(
    df: DataFrame,
    spec: GridSpec,
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "cell_id",
) -> DataFrame:
    """Attach the closed-form tile id as JVM expression math (whole-stage
    codegen, no Python boundary); bit-identical to :func:`seraster_spark.grid.encode`."""
    return df.withColumn(out_col, F.expr(_cell_id(spec, x_col, y_col)))


def _tile_decor(spec: GridSpec) -> dict[str, str]:
    """Centroid, grid index, pixel name, type, resolution of the
    ``cell_id`` column as SQL text (R/main.R:127-129,183-189)."""
    cid = "`cell_id`"
    cx, cy = X.centroid_sql(cid, spec)
    idx = X.grid_index_sql(cid, spec)
    if spec.square:
        name = f"format_string('pixel%d', CAST(({idx} + 1) AS BIGINT))"
    else:
        row, col = X.unpack_sql(cid)
        name = f"format_string('hex_%d_%d', CAST({row} AS BIGINT), CAST({col} AS BIGINT))"
    return {
        "cx": cx,
        "cy": cy,
        "grid_index": f"CAST({idx} AS BIGINT)",
        "pixel_name": name,
        "type": "'square'" if spec.square else "'hexagon'",
        "resolution": f"{float(spec.resolution)!r}D",
    }


def _with_tile_decor(tiles: DataFrame, spec: GridSpec) -> DataFrame:
    """Add the tile decoration columns in one projection."""
    return tiles.withColumns({k: F.expr(v) for k, v in _tile_decor(spec).items()})


def _decorated(
    df: DataFrame, items: list[str], fun: str, total: str, num_cell: str, spec: GridSpec
) -> DataFrame:
    """One projection: the SQL select ``items``, then ``pixelval`` (the
    ``total``, divided by ``num_cell`` for fun="mean") and the tile
    decoration."""
    pixelval = total if fun == "sum" else f"({total} / CAST({num_cell} AS DOUBLE))"
    return df.selectExpr(
        *items,
        f"{pixelval} AS pixelval",
        *[f"{v} AS {k}" for k, v in _tile_decor(spec).items()],
    )


def tile_meta(
    docs_with_cell: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    collect_roster: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Per-tile metadata: num_cell + sorted doc roster
    (``R/main.R:153-155``). ``salt_buckets > 0`` enables the two-phase salted
    aggregate for hot tiles (SURVEY.md §4.3.1)."""
    keys = list(group_cols or []) + ["cell_id"]
    count = F.expr("count(1) AS num_cell")
    if not collect_roster:
        return docs_with_cell.groupBy(*keys).agg(count)
    ids = X.ident(id_col)
    if salt_buckets and salt_buckets > 1:
        salted = docs_with_cell.withColumn(
            "_salt", F.expr(f"pmod(xxhash64({ids}), {int(salt_buckets)})")
        )
        partial = salted.groupBy(*keys, "_salt").agg(
            F.expr("count(1) AS _n"), F.expr(f"collect_list({ids}) AS _ids")
        )
        return partial.groupBy(*keys).agg(
            F.expr("CAST(sum(_n) AS BIGINT) AS num_cell"),
            F.expr("sort_array(flatten(collect_list(_ids))) AS cellID_list"),
        )
    return docs_with_cell.groupBy(*keys).agg(
        count, F.expr(f"sort_array(collect_list({ids})) AS cellID_list")
    )


def _with_tile_meta(
    sums: DataFrame,
    with_cell: DataFrame,
    spec: GridSpec,
    fun: str,
    group_cols: list[str],
    label: str,
    total: str,
    collect_roster: bool = False,
    salt_buckets: int = 0,
    keep_empty_feature_tiles: bool = False,
) -> DataFrame:
    """The kernel's shared last step (reference ``rasterizeMatrix``,
    ``R/main.R:146-189``): per-(tile, ``label``) ``total``s, already
    aggregated in ``sums``, meet the per-tile :func:`tile_meta` of
    ``with_cell`` by broadcast join; then pixelval and the tile decoration
    in one projection.

    ``keep_empty_feature_tiles`` adds the tiles present in the meta but
    absent from ``sums`` (every member doc had no triplet) with ``label =
    NULL`` and ``total = 0``: a tile-cardinality anti-join unioned back in —
    never a re-scan of the corpus, and the big fact side stays streamable
    (a broadcast right-outer is not a plannable shape; the anti+union is).

    Output: (group_cols..., cell_id, <label>, num_cell[, cellID_list],
    pixelval, cx, cy, grid_index, pixel_name, type, resolution)."""
    keys = group_cols + ["cell_id"]
    meta = tile_meta(
        with_cell, group_cols, collect_roster=collect_roster, salt_buckets=salt_buckets
    )
    joined = sums.join(F.broadcast(meta), on=keys, how="inner")
    if keep_empty_feature_tiles:
        dtypes = dict(sums.dtypes)
        # broadcast the distinct tile keys (tile-cardinality) so the
        # anti-join stays shuffle-free like the meta join it mirrors
        empty = meta.join(
            F.broadcast(sums.select(*keys).distinct()), on=keys, how="left_anti"
        ).withColumns(
            {
                # cast BOTH literals to the sparse side's dtypes: a bare 0.0
                # would widen an integer-valued total to double for every
                # row through the union (schema drift + driver-hash mismatch)
                label: F.lit(None).cast(dtypes[label]),
                total: F.lit(0.0).cast(dtypes[total]),
            }
        )
        joined = joined.unionByName(empty)
    items = [X.ident(c) for c in (*keys, label)] + ["`num_cell`"]
    if collect_roster:
        items.append("`cellID_list`")
    return _decorated(joined, items, fun, X.ident(total), "`num_cell`", spec)


def _triplets(with_cell: DataFrame, keys: list[str], values_col: str) -> DataFrame:
    """Long (triplet) form of the sparse ``values_col`` vectors: (keys...,
    doc_id, feature, value), one row per present feature."""
    qkeys = [X.ident(k) for k in keys]
    return with_cell.selectExpr(
        *qkeys, "`doc_id`", f"explode({X.ident(values_col)}) AS _kv"
    ).selectExpr(*qkeys, "`doc_id`", "_kv.feature AS feature", "_kv.value AS value")


def rasterize_cell_type(
    docs: DataFrame,
    resolution: float = 100.0,
    square: bool = True,
    fun: str = "sum",
    label_col: str = "kind",
    group_cols: list[str] | None = None,
    bbox: BBox | None = None,
    spec: GridSpec | None = None,
    collect_roster: bool = False,
    salt_buckets: int = 0,
) -> DataFrame:
    """Categorical rasterization (reference ``rasterizeCellType``,
    ``R/main.R:466-559``; default fun="sum", R/main.R:466).

    One-hot encoding is free in long form: each doc row IS the triplet
    (doc, label, 1) (``R/main.R:496-498`` builds a sparse model matrix; here
    ``groupBy(cell_id, kind).count()`` is the same thing). fun="mean" yields
    per-tile label proportions count/num_cell (``R/main.R:405-409``).

    Output: (group_cols..., cell_id, <label_col>, pixelval, num_cell,
    cx, cy, grid_index, pixel_name, type, resolution).
    """
    if fun not in VALID_FUNS:
        raise ValueError(f"fun must be one of {VALID_FUNS} (R/main.R:33-36)")
    gcols = list(group_cols or [])
    spec = spec or grid_spec_for(docs, resolution, square=square, bbox=bbox)
    with_cell = docs.selectExpr(
        *[X.ident(c) for c in (*gcols, "doc_id", label_col)],
        f"{_cell_id(spec)} AS cell_id",
    )
    keys = gcols + ["cell_id"]

    counts = with_cell.groupBy(*keys, label_col).agg(
        F.expr("CAST(count(1) AS DOUBLE) AS _cnt")
    )
    if collect_roster:
        # roster needs the doc ids → second aggregate + broadcast join
        return _with_tile_meta(
            counts, with_cell, spec, fun, gcols, label_col, "_cnt",
            collect_roster=True, salt_buckets=salt_buckets,
        )
    # every doc has exactly one label, so num_cell = Σ_label counts — a
    # window over the ALREADY-AGGREGATED tiles replaces a second full
    # scan + join (the window exchange moves tiles×labels rows, not docs).
    # The window gets its own projection: in one select with pixelval and
    # the decoration, the analyzer computes those BELOW the window, and the
    # window exchange would carry them (+64% shuffle bytes)
    items = [X.ident(c) for c in keys + [label_col]]
    part = ", ".join(X.ident(k) for k in keys)
    with_n = counts.selectExpr(
        *items, "`_cnt`", f"CAST(sum(`_cnt`) OVER (PARTITION BY {part}) AS BIGINT) AS num_cell"
    )
    items.append("`num_cell`")
    return _decorated(with_n, items, fun, "`_cnt`", "`num_cell`", spec)


def rasterize_gene_expression(
    docs: DataFrame,
    resolution: float = 100.0,
    square: bool = True,
    fun: str = "mean",
    values_col: str = "values",
    group_cols: list[str] | None = None,
    bbox: BBox | None = None,
    spec: GridSpec | None = None,
    collect_roster: bool = False,
    salt_buckets: int = 0,
    assay_col: str | None = None,
    assay_name: str | None = None,
    keep_empty_feature_tiles: bool = False,
) -> DataFrame:
    """Continuous-feature rasterization (reference
    ``rasterizeGeneExpression``, ``R/main.R:291-375``; default fun="mean",
    R/main.R:291).

    Input carries a sparse feature vector as ``values:
    array<struct<feature,value>>`` (long/triplet form after explode — absent
    feature = structural zero, preserving the reference's dgCMatrix sparsity,
    ``R/main.R:157-161``).

    mean = sum(value)/num_cell with num_cell including structural zeros
    (``R/main.R:146-150``) — the denominator comes from the doc-level tile
    counts, broadcast-joined in.

    Multi-assay inputs: pass ``assay_col`` (a discriminator column) and
    optionally ``assay_name`` — validated eagerly against the assays present,
    defaulting to the first (``R/main.R:315-321``).

    By default an occupied tile whose member docs ALL have empty ``values``
    arrays yields no output row (sparse long form has nothing to emit),
    whereas the reference keeps an all-zero pixel column with num_cell
    metadata (R/main.R:153-176). Pass ``keep_empty_feature_tiles=True`` for
    reference semantics: such tiles are emitted with ``feature = NULL`` and
    ``pixelval = 0.0`` (the long-form encoding of the all-zero column),
    num_cell metadata intact (see :func:`_with_tile_meta`).
    """
    if fun not in VALID_FUNS:
        raise ValueError(f"fun must be one of {VALID_FUNS} (R/main.R:33-36)")
    gcols = list(group_cols or [])
    # grid spec from the FULL (unfiltered) docs so every assay shares one
    # grid — the reference's common-bbox invariant (R/main.R:294-308); the
    # assay filter applies only after the grid is fixed
    spec = spec or grid_spec_for(docs, resolution, square=square, bbox=bbox)
    docs = _resolve_assay(docs, assay_col, assay_name)
    keys = gcols + ["cell_id"]
    with_cell = docs.selectExpr(
        *[X.ident(c) for c in (*gcols, "doc_id", values_col)],
        f"{_cell_id(spec)} AS cell_id",
    )
    sums = _triplets(with_cell, keys, values_col).groupBy(*keys, "feature").agg(
        F.expr("sum(value) AS _sum")
    )
    return _with_tile_meta(
        sums, with_cell, spec, fun, gcols, "feature", "_sum",
        collect_roster=collect_roster, salt_buckets=salt_buckets,
        keep_empty_feature_tiles=keep_empty_feature_tiles,
    )


# The ordered fold of rasterize_gene_expression_deterministic: the group's
# values sorted by doc id and summed left to right. The first addition is
# -0.0 + v0, which is v0 bitwise for every v0 (a start at +0.0 would turn
# a lone -0.0 into 0.0). NULL values are skipped as sum() skips them, and
# a group of only NULLs stays NULL.
_ORDERED_SUM = (
    "aggregate(array_sort(collect_list(struct(`doc_id`, CAST(value AS DOUBLE) AS v))"
    " FILTER (WHERE value IS NOT NULL)), CAST(NULL AS DOUBLE),"
    " (acc, e) -> coalesce(acc, -0.0D) + e.v) AS _sum"
)


def rasterize_gene_expression_deterministic(
    docs: DataFrame,
    resolution: float = 100.0,
    square: bool = True,
    fun: str = "mean",
    values_col: str = "values",
    bbox: BBox | None = None,
    spec: GridSpec | None = None,
) -> DataFrame:
    """Bit-for-bit reproducible variant (north_star: "match ... bit-for-bit
    on aggregated pixel values"; SURVEY.md §4.3.4): each (tile, feature)
    sum is an ordered fold over its values sorted by doc id, so the result
    is byte-identical across partitionings, cluster sizes, and reruns.
    The fold runs in the JVM (``array_sort`` of the group's
    ``collect_list``, then ``aggregate``); values are cast to double.

    This path is NOT the hot 100 TB aggregate: it collects each (tile,
    feature) group's values into one list, where the default
    rasterize_gene_expression (single codegen shuffle, order-free sums)
    combines partial sums map-side; use this variant only when last-ulp
    float reproducibility across reruns/cluster sizes is a hard
    requirement. Output columns are those of rasterize_gene_expression."""
    if fun not in VALID_FUNS:
        raise ValueError(f"fun must be one of {VALID_FUNS} (R/main.R:33-36)")
    spec = spec or grid_spec_for(docs, resolution, square=square, bbox=bbox)
    with_cell = docs.selectExpr(
        "`doc_id`", X.ident(values_col), f"{_cell_id(spec)} AS cell_id"
    )
    sums = _triplets(with_cell, ["cell_id"], values_col).groupBy("cell_id", "feature").agg(
        F.expr(_ORDERED_SUM)
    )
    return _with_tile_meta(sums, with_cell, spec, fun, [], "feature", "_sum")


@dataclass(frozen=True)
class RasterizedMatrix:
    """Spark-native analogue of the reference's rasterizeMatrix output list
    (``R/main.R:194-196`` list(data_rast, pos_rast, meta_rast)):

    * ``data_rast`` — long-form feature×pixel matrix
      (cell_id, pixel_name, feature, pixelval); absent (pixel, feature)
      pairs are structural zeros, like the reference's sparse columns.
    * ``pos_rast``  — pixel centroids (cell_id, pixel_name, x, y)
      (``R/main.R:126-129``).
    * ``meta_rast`` — per-pixel num_cell, sorted cellID_list, type,
      resolution, geometry_wkt (``R/main.R:152-189``). Covers EVERY occupied
      pixel, including pixels whose docs contribute no feature triplets.
    """

    data_rast: DataFrame
    pos_rast: DataFrame
    meta_rast: DataFrame


def rasterize_matrix(
    data: DataFrame,
    pos: DataFrame,
    resolution: float = 100.0,
    square: bool = True,
    fun: str = "mean",
    bbox: BBox | None = None,
    spec: GridSpec | None = None,
    id_col: str = "doc_id",
    feature_col: str = "feature",
    value_col: str = "value",
    salt_buckets: int = 0,
) -> RasterizedMatrix:
    """The reference's 5th export, ``rasterizeMatrix`` (NAMESPACE:7,
    ``R/main.R:98-197``): rasterize a feature×cell matrix given separate
    positions, returning the (data_rast, pos_rast, meta_rast) triple.

    ``data`` is the matrix in Spark-native sparse long form — one row per
    nonzero (cell, feature, value) triplet (the reference's dgCMatrix,
    column-compressed, is the same set of triplets); ``pos`` is
    (id_col, x, y). fun="mean" divides by num_cell — rowMeans over the
    pixel's full cell set incl. structural zeros (``R/main.R:146-150``).

    Plan shape: pos → closed-form tile encode → ONE aggregate for meta
    (num_cell + salted roster); triplets pick up their tile by an equi-join
    on the unique doc id (uniform key), then ONE aggregate per
    (tile, feature); num_cell attaches by broadcast (tiles ≪ docs) in the
    kernel step shared with the other entry points, :func:`_with_tile_meta`.
    """
    if fun not in VALID_FUNS:
        raise ValueError(f"fun must be one of {VALID_FUNS} (R/main.R:33-36)")
    spec = spec or grid_spec_for(pos, resolution, square=square, bbox=bbox)
    with_cell = assign_tiles(pos.select(id_col, "x", "y"), spec)
    meta = tile_meta(
        with_cell, id_col=id_col, collect_roster=True, salt_buckets=salt_buckets
    )
    meta = _with_tile_decor(meta, spec)
    from .vector import tiles_with_wkt

    meta = tiles_with_wkt(meta, spec)

    triplets = data.select(
        F.col(id_col), F.col(feature_col).alias("feature"), F.col(value_col).alias("value")
    ).join(with_cell.select(id_col, "cell_id"), id_col)
    sums = triplets.groupBy("cell_id", "feature").agg(F.sum("value").alias("_sum"))
    data_rast = _with_tile_meta(sums, with_cell, spec, fun, [], "feature", "_sum").select(
        "cell_id", "pixel_name", "feature", "pixelval"
    )
    pos_rast = meta.select(
        "cell_id", "pixel_name", F.col("cx").alias("x"), F.col("cy").alias("y")
    )
    meta_rast = meta.select(
        "cell_id", "pixel_name", "num_cell", "cellID_list", "type", "resolution",
        "geometry_wkt",
    )
    return RasterizedMatrix(data_rast=data_rast, pos_rast=pos_rast, meta_rast=meta_rast)


def rollup_tiles(
    tiles: DataFrame,
    spec: GridSpec,
    factor: int = 2,
    keys: list[str] | None = None,
    sum_cols: tuple[str, ...] = ("pixelval",),
) -> tuple[DataFrame, GridSpec]:
    """Hierarchical tile rollup (pyramid level): aggregate res-r tiles into
    res-(factor·r) parent tiles by INTEGER ARITHMETIC on the packed cell ids
    — parent row/col = floor(child/factor) — with no re-scan of the source
    docs. The multi-resolution sweep re-bins the corpus once per level; the
    rollup instead derives each coarser level from the previous one
    (tiles ≪ docs, so each level is ~factor² cheaper than the last — the
    standard tile-pyramid construction). Square grids only: axial hex cells
    do not nest. Additive aggregates only (sum/count roll up exactly; mean
    must be re-derived as rolled sum / rolled num_cell).

    Returns (parent_tiles, parent_spec); parent_spec.level = spec.level+1
    keeps pyramid levels distinct inside the packed id space."""
    if not spec.square:
        raise ValueError("rollup_tiles requires a square grid (hex cells do not nest)")
    if factor < 2:
        raise ValueError("factor must be >= 2")
    if spec.level >= 63:
        # clamping would alias two pyramid levels into one (mode, level)
        # packed-id space — fail instead of silently colliding tile ids
        raise ValueError(
            "rollup_tiles: parent level would exceed the 6-bit level space "
            f"(spec.level={spec.level}, max parent level is 63)"
        )
    ks = list(keys or [])
    row, col = X.unpack_sql("`cell_id`")
    f = f"{float(factor)!r}D"
    parent_spec = GridSpec(
        spec.xmin,
        spec.ymin,
        spec.xmax,
        spec.ymax,
        spec.resolution * factor,
        square=True,
        level=spec.level + 1,
    )
    parent_id = X.pack_sql(
        parent_spec.mode,
        parent_spec.level,
        f"CAST(FLOOR({row} / {f}) AS BIGINT)",
        f"CAST(FLOOR({col} / {f}) AS BIGINT)",
    )
    rolled = (
        tiles.selectExpr(f"{parent_id} AS cell_id", *[X.ident(c) for c in (*ks, *sum_cols)])
        .groupBy("cell_id", *ks)
        .agg(*[F.expr(f"sum({X.ident(c)}) AS {X.quote(c)}") for c in sum_cols])
    )
    return _with_tile_decor(rolled, parent_spec), parent_spec


def regrid(
    tiles: DataFrame,
    spec_from: GridSpec,
    spec_to: GridSpec,
    value_cols: tuple[str, ...] = ("pixelval",),
    keys: list[str] | None = None,
    fun: str = "sum",
) -> DataFrame:
    """Resample a raster onto an ARBITRARY new grid (any resolution, any
    non-nesting ratio, square→hex or hex→square) by nearest-cell (centroid)
    assignment — the gdalwarp-near analog, and the step that aligns two
    rasters of different provenance for raster algebra. Complements
    ``rollup_tiles``, which only handles integer-factor nesting.

    Each source tile's value is re-addressed to the target cell containing
    the source tile's centroid (closed-form both ways: unpack → centroid →
    encode, whole-stage-codegen Column math, the lowest-index boundary
    tie-break shared with all binning). Semantics: ``sum`` re-distributes
    additive surfaces (counts); ``mean``/``min``/``max`` aggregate the
    contributing source-tile VALUES (equal-weight, i.e. nearest-cell
    resampling, not area weighting).

    Scale shape: tile-cardinality map + ONE groupBy on the target cell id;
    the corpus is never re-scanned. ``spec_to`` must cover ``spec_from``'s
    bbox (centroids outside would pack out-of-range indexes).
    """
    funs = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max}
    if fun not in funs:
        raise ValueError(f"fun must be one of {sorted(funs)}, got {fun!r}")
    ks = list(keys or [])
    cx, cy = X.centroid_sql("`cell_id`", spec_from)
    out = (
        tiles.withColumn("cell_id", F.expr(X.cell_id_sql(cx, cy, spec_to)))
        .groupBy("cell_id", *ks)
        .agg(*[funs[fun](c).alias(c) for c in value_cols])
    )
    return _with_tile_decor(out, spec_to)


def relative_enrichment(cell_type_tiles: DataFrame, label_col: str = "kind") -> DataFrame:
    """Vignette's relative-enrichment metric (vignette:307-311):
    RE[ct, px] = mat[ct,px] / ( (sum(mat[ct,:]) / sum(mat)) * colSums(mat)[px] )
    computed with window aggregates over the fun="sum" cell-type raster."""
    from pyspark.sql import Window as W

    mat = cell_type_tiles.select("cell_id", label_col, "pixelval")
    w_ct = W.partitionBy(label_col)
    w_px = W.partitionBy("cell_id")
    # grand total as a 1-row aggregate broadcast back in — NEVER
    # `Window.partitionBy()` (an empty partitionBy collapses all tiles×labels
    # rows into ONE window partition: a single-task exchange that serializes
    # at scale). Same pattern as focal.py's global-moment broadcasts.
    grand = mat.agg(F.sum("pixelval").alias("_grand"))
    return (
        mat.withColumn("_ct_total", F.sum("pixelval").over(w_ct))
        .withColumn("_px_total", F.sum("pixelval").over(w_px))
        .crossJoin(F.broadcast(grand))
        .withColumn(
            "re",
            F.col("pixelval")
            / ((F.col("_ct_total") / F.col("_grand")) * F.col("_px_total")),
        )
        .withColumn("re_bin", F.when(F.col("re") >= 1.0, 1).otherwise(0))
        .drop("_ct_total", "_px_total", "_grand")
    )
