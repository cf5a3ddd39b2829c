"""Driver-contract queries: each entry pairs an engine-API Spark query with
an ANSI-SQL DuckDB oracle over the same /root/testdata parquet tables.

The testdata ``documents`` table has no coordinates (TESTDATA.md), so planar
coords are DERIVED deterministically from ``doc_id`` by integer modular
arithmetic — bit-identical in both engines:

    x = (doc_id * 7919)   % 3000   (integer-valued double)
    y = (doc_id * 104729) % 2000
    kind = 'ct' || (doc_id % 16)

Integer-valued doubles make every aggregate exact (order-independent sums),
and trig/sqrt/floor were verified bit-identical between Spark's JVM and
DuckDB's libm in this environment, so even rotation + re-binning round-trips
hash-match. Every computed column is aliased identically on both sides
(driver compares by sorted column name).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import expressions as X
from . import knn as K
from . import rasterize as R
from . import text as TX
from .bbox import BBox
from .grid import SQRT3, GridSpec
from .io import read_table
from .permutate import permutate_by_rotation

RES = 100.0


# ---------------------------------------------------------------------------
# shared derivations

def docs_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "text",
        "source",
        F.col("n_chars").cast("double").alias("val"),
        ((F.col("doc_id") * 7919) % 3000).cast("double").alias("x"),
        ((F.col("doc_id") * 104729) % 2000).cast("double").alias("y"),
        F.concat(F.lit("ct"), (F.col("doc_id") % 16).cast("string")).alias("kind"),
    )


_SQL_DOCS = """
d AS (
  SELECT doc_id, text, source, CAST(n_chars AS DOUBLE) AS val,
         CAST((doc_id * 7919) % 3000 AS DOUBLE) AS x,
         CAST((doc_id * 104729) % 2000 AS DOUBLE) AS y,
         'ct' || CAST(doc_id % 16 AS VARCHAR) AS kind
  FROM documents
)"""

_SQL_BBOX = """
b AS (
  SELECT floor(min(x) - 50.0) AS xmin, floor(min(y) - 50.0) AS ymin,
         ceil(max(x) + 50.0) AS xmax, ceil(max(y) + 50.0) AS ymax
  FROM d
)"""

# square binning with the lowest-index boundary tie-break (R/main.R:134-135)
_SQL_SQ_CELLS = """
c AS (
  SELECT d.*, b.xmin, b.ymin, b.xmax, b.ymax,
         CAST(CASE WHEN (x - b.xmin) = floor((x - b.xmin) / 100.0) * 100.0
                        AND floor((x - b.xmin) / 100.0) > 0
                   THEN floor((x - b.xmin) / 100.0) - 1
                   ELSE floor((x - b.xmin) / 100.0) END AS BIGINT) AS col_i,
         CAST(CASE WHEN (y - b.ymin) = floor((y - b.ymin) / 100.0) * 100.0
                        AND floor((y - b.ymin) / 100.0) > 0
                   THEN floor((y - b.ymin) / 100.0) - 1
                   ELSE floor((y - b.ymin) / 100.0) END AS BIGINT) AS row_i
  FROM d, b
)"""


def _sq_tiles(spark: SparkSession, sf_dir: str, res: float = RES) -> tuple[DataFrame, GridSpec]:
    """Docs with cell_id + unpacked row_i/col_i on the padded common grid."""
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, res, square=True)
    with_cell = R.assign_tiles(d, spec)
    row, col = X.unpack_rowcol("cell_id")
    return (
        with_cell.withColumn("row_i", row.cast("long")).withColumn("col_i", col.cast("long")),
        spec,
    )


# ---------------------------------------------------------------------------
# query implementations


def _count_raster_spec(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, GridSpec]:
    """The (row_i, col_i, n_docs) count raster every focal/terrain/viewshed
    query operates on, plus its GridSpec — composed queries build BOTH once
    and thread them down so one oracle evaluation scans the corpus once,
    not once per sub-query."""
    t, spec = _sq_tiles(spark, sf_dir)
    return (
        t.groupBy("row_i", "col_i").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        ),
        spec,
    )


def _count_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _count_raster_spec(spark, sf_dir)[0]


def q_bbox_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    return d.agg(
        F.floor(F.min("x") - 50.0).cast("double").alias("xmin"),
        F.floor(F.min("y") - 50.0).cast("double").alias("ymin"),
        F.ceil(F.max("x") + 50.0).cast("double").alias("xmax"),
        F.ceil(F.max("y") + 50.0).cast("double").alias("ymax"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_BBOX_PAD = f"""
WITH {_SQL_DOCS}
SELECT CAST(floor(min(x) - 50.0) AS DOUBLE) AS xmin,
       CAST(floor(min(y) - 50.0) AS DOUBLE) AS ymin,
       CAST(ceil(max(x) + 50.0) AS DOUBLE) AS xmax,
       CAST(ceil(max(y) + 50.0) AS DOUBLE) AS ymax,
       count(*) AS n_docs
FROM d
"""


def q_raster_square_kind_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    t = R.rasterize_cell_type(d, RES, fun="sum", spec=spec)
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        "kind",
        F.col("pixelval").alias("pixelval"),
        F.col("num_cell").cast("long").alias("num_cell"),
        "cx",
        "cy",
        "pixel_name",
    )


def _sql_pixel_name() -> str:
    """grid_index = row_i*ncols + col_i; name = 'pixel' || (idx+1)."""
    return (
        "'pixel' || CAST(row_i * CAST(ceil((xmax - xmin) / 100.0) AS BIGINT) "
        "+ col_i + 1 AS VARCHAR)"
    )


SQL_RASTER_SQUARE_KIND_SUM = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
n AS (
  SELECT row_i, col_i, count(*) AS num_cell FROM c GROUP BY row_i, col_i
)
SELECT c.row_i, c.col_i, c.kind,
       CAST(count(*) AS DOUBLE) AS pixelval,
       any_value(n.num_cell) AS num_cell,
       any_value(c.xmin) + (c.col_i + 0.5) * 100.0 AS cx,
       any_value(c.ymin) + (c.row_i + 0.5) * 100.0 AS cy,
       any_value({_sql_pixel_name()}) AS pixel_name
FROM c JOIN n USING (row_i, col_i)
GROUP BY c.row_i, c.col_i, c.kind
"""


def q_raster_square_kind_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    t = R.rasterize_cell_type(d, RES, fun="mean", spec=spec)
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        "kind",
        F.col("pixelval").alias("proportion"),
        F.col("num_cell").cast("long").alias("num_cell"),
    )


SQL_RASTER_SQUARE_KIND_MEAN = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
n AS (SELECT row_i, col_i, count(*) AS num_cell FROM c GROUP BY row_i, col_i)
SELECT c.row_i, c.col_i, c.kind,
       CAST(count(*) AS DOUBLE) / CAST(any_value(n.num_cell) AS DOUBLE) AS proportion,
       any_value(n.num_cell) AS num_cell
FROM c JOIN n USING (row_i, col_i)
GROUP BY c.row_i, c.col_i, c.kind
"""


def q_raster_square_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gene-expression-style mean: sum(val)/num_cell (R/main.R:146-150
    denominator semantics; val = n_chars, integer-valued -> exact)."""
    d = docs_with_coords(spark, sf_dir).withColumn(
        "values", F.array(F.struct(F.lit("n_chars").alias("feature"), F.col("val").alias("value")))
    )
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    t = R.rasterize_gene_expression(d, RES, fun="mean", spec=spec)
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        "feature",
        F.col("pixelval").alias("mean_val"),
        F.col("num_cell").cast("long").alias("num_cell"),
    )


SQL_RASTER_SQUARE_VALUE_MEAN = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT row_i, col_i, 'n_chars' AS feature,
       sum(val) / CAST(count(*) AS DOUBLE) AS mean_val,
       count(*) AS num_cell
FROM c GROUP BY row_i, col_i
"""


def q_raster_square_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    with_cell = R.assign_tiles(d, spec)
    meta = R.tile_meta(with_cell, id_col="doc_id", salt_buckets=4)
    row, col = X.unpack_rowcol("cell_id")
    return meta.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        F.col("num_cell").cast("long").alias("num_cell"),
        F.array_join(
            F.transform(F.col("cellID_list"), lambda v: v.cast("string")), ","
        ).alias("roster"),
    )


SQL_RASTER_SQUARE_ROSTER = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT row_i, col_i, count(*) AS num_cell,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS roster
FROM c GROUP BY row_i, col_i
"""


# hexagonal binning -----------------------------------------------------------

_SQL_HEX_CELLS = """
h0 AS (
  SELECT d.*, b.xmin, b.ymin,
         (x - b.xmin) / (100.0 / sqrt(3.0)) AS px,
         (y - b.ymin) / (100.0 / sqrt(3.0)) AS py
  FROM d, b
),
h1 AS (
  SELECT h0.*,
         (sqrt(3.0) / 3.0) * px - (1.0 / 3.0) * py AS qf,
         (2.0 / 3.0) * py AS rf
  FROM h0
),
h2 AS (
  SELECT h1.*, -qf - rf AS sf,
         floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr, floor(-qf - rf + 0.5) AS rs
  FROM h1
),
h3 AS (
  SELECT h2.*,
         abs(rq - qf) AS dq, abs(rr - rf) AS dr, abs(rs - sf) AS ds
  FROM h2
),
hc AS (
  SELECT h3.*,
         CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS BIGINT) AS q,
         CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS BIGINT) AS r
  FROM h3
)"""


def q_raster_hex_kind_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=False)
    t = R.rasterize_cell_type(d, RES, fun="sum", spec=spec)
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        col.cast("long").alias("q"),
        row.cast("long").alias("r"),
        "kind",
        F.col("pixelval").alias("pixelval"),
        F.col("num_cell").cast("long").alias("num_cell"),
        "cx",
        "cy",
    )


SQL_RASTER_HEX_KIND_SUM = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_HEX_CELLS},
n AS (SELECT q, r, count(*) AS num_cell FROM hc GROUP BY q, r)
SELECT hc.q, hc.r, hc.kind,
       CAST(count(*) AS DOUBLE) AS pixelval,
       any_value(n.num_cell) AS num_cell,
       any_value(hc.xmin) + ((100.0 / sqrt(3.0)) * sqrt(3.0)) * (hc.q + hc.r / 2.0) AS cx,
       any_value(hc.ymin) + ((100.0 / sqrt(3.0)) * 1.5) * hc.r AS cy
FROM hc JOIN n USING (q, r)
GROUP BY hc.q, hc.r, hc.kind
"""


# rotation --------------------------------------------------------------------


def q_rotation_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotate 4 ways, rasterize all perms on ONE common grid
    (R/main.R:294-308): per (perm, tile) doc counts."""
    d = docs_with_coords(spark, sf_dir).select("doc_id", "x", "y")
    fan = permutate_by_rotation(d, n_perm=4)
    from .bbox import grid_spec_for

    spec = grid_spec_for(fan, RES, square=True)
    with_cell = R.assign_tiles(fan, spec)
    row, col = X.unpack_rowcol("cell_id")
    return (
        with_cell.withColumn("row_i", row.cast("long"))
        .withColumn("col_i", col.cast("long"))
        .groupBy("perm", "row_i", "col_i")
        .agg(F.count(F.lit(1)).alias("num_cell"))
    )


SQL_ROTATION_RASTER = f"""
WITH {_SQL_DOCS},
o AS (SELECT (min(x) + max(x)) / 2.0 AS ox, (min(y) + max(y)) / 2.0 AS oy FROM d),
a AS (SELECT unnest([0.0, 90.0, 180.0, 270.0]) AS angle),
rot AS (
  SELECT d.doc_id,
         (d.x - o.ox) * cos(radians(a.angle)) - (d.y - o.oy) * sin(radians(a.angle)) + o.ox AS x,
         (d.x - o.ox) * sin(radians(a.angle)) + (d.y - o.oy) * cos(radians(a.angle)) + o.oy AS y,
         'rotated_' || CAST(CAST(a.angle AS BIGINT) AS VARCHAR) AS perm
  FROM d, o, a
),
rb AS (
  SELECT floor(min(x) - 50.0) AS xmin, floor(min(y) - 50.0) AS ymin FROM rot
),
rc AS (
  SELECT rot.perm,
         CAST(CASE WHEN (x - rb.xmin) = floor((x - rb.xmin) / 100.0) * 100.0
                        AND floor((x - rb.xmin) / 100.0) > 0
                   THEN floor((x - rb.xmin) / 100.0) - 1
                   ELSE floor((x - rb.xmin) / 100.0) END AS BIGINT) AS col_i,
         CAST(CASE WHEN (y - rb.ymin) = floor((y - rb.ymin) / 100.0) * 100.0
                        AND floor((y - rb.ymin) / 100.0) > 0
                   THEN floor((y - rb.ymin) / 100.0) - 1
                   ELSE floor((y - rb.ymin) / 100.0) END AS BIGINT) AS row_i
  FROM rot, rb
)
SELECT perm, row_i, col_i, count(*) AS num_cell
FROM rc GROUP BY perm, row_i, col_i
"""


# kNN -------------------------------------------------------------------------


def q_knn_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    queries = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "x", "y"
    )
    out = K.knn_join(d, queries, 5, spec, initial_radius=2)
    return out.select(
        "query_id", F.col("doc_id").alias("neighbor_id"), "dist", F.col("rank").cast("long").alias("rank")
    )


SQL_KNN_SQUARE = f"""
WITH {_SQL_DOCS},
q AS (SELECT doc_id AS query_id, x AS qx, y AS qy FROM d WHERE doc_id % 97 = 0),
dist AS (
  SELECT q.query_id, d.doc_id AS neighbor_id,
         sqrt((d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy)) AS dist
  FROM q, d
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM dist
)
SELECT query_id, neighbor_id, dist, rank FROM ranked WHERE rank <= 5
"""


def q_raster_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rasterizeMatrix facade (reference NAMESPACE:7, R/main.R:98-197):
    separate data (triplets) + pos inputs → (data_rast, pos_rast, meta_rast);
    this query stitches the triple back together per pixel, proving all
    three outputs against one SQL oracle."""
    d = docs_with_coords(spark, sf_dir)
    data = d.select("doc_id", F.lit("n_chars").alias("feature"), F.col("val").alias("value"))
    pos = d.select("doc_id", "x", "y")
    from .bbox import grid_spec_for

    spec = grid_spec_for(pos, RES, square=True)
    rm = R.rasterize_matrix(data, pos, RES, fun="mean", spec=spec)
    return (
        rm.data_rast.join(rm.meta_rast.select("cell_id", "num_cell"), "cell_id")
        .join(
            rm.pos_rast.select("cell_id", F.col("x").alias("cx"), F.col("y").alias("cy")),
            "cell_id",
        )
        .select(
            "pixel_name",
            "feature",
            F.col("pixelval").alias("mean_val"),
            F.col("num_cell").cast("long").alias("num_cell"),
            "cx",
            "cy",
        )
    )


SQL_RASTER_MATRIX = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT any_value({_sql_pixel_name()}) AS pixel_name,
       'n_chars' AS feature,
       sum(val) / CAST(count(*) AS DOUBLE) AS mean_val,
       count(*) AS num_cell,
       any_value(xmin) + (col_i + 0.5) * 100.0 AS cx,
       any_value(ymin) + (row_i + 0.5) * 100.0 AS cy
FROM c GROUP BY row_i, col_i
"""


# relative enrichment ---------------------------------------------------------


def q_relative_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    ct = R.rasterize_cell_type(d, RES, fun="sum", spec=spec)
    re = R.relative_enrichment(ct)
    row, col = X.unpack_rowcol("cell_id")
    return re.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        "kind",
        "re",
        F.col("re_bin").cast("long").alias("re_bin"),
    )


SQL_RELATIVE_ENRICHMENT = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
mat AS (
  SELECT row_i, col_i, kind, CAST(count(*) AS DOUBLE) AS pixelval
  FROM c GROUP BY row_i, col_i, kind
),
tot AS (
  SELECT mat.*,
         sum(pixelval) OVER (PARTITION BY kind) AS ct_total,
         sum(pixelval) OVER (PARTITION BY row_i, col_i) AS px_total,
         sum(pixelval) OVER () AS grand
  FROM mat
)
SELECT row_i, col_i, kind,
       pixelval / ((ct_total / grand) * px_total) AS re,
       CASE WHEN pixelval / ((ct_total / grand) * px_total) >= 1.0 THEN 1 ELSE 0 END AS re_bin
FROM tot
"""


# multi-resolution ------------------------------------------------------------


def q_multires_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    outs = []
    for res in (50.0, 100.0, 200.0):
        spec = grid_spec_for(d, res, square=True)
        wc = R.assign_tiles(d, spec)
        outs.append(
            wc.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.lit(res).alias("resolution"),
                F.count(F.lit(1)).alias("n_tiles"),
                F.sum("n").cast("long").alias("n_docs"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _sql_multires_one(res: float) -> str:
    h = res / 2.0
    # explicit casts: a bare {res} literal is DECIMAL in DuckDB and sum(n) is
    # HUGEINT — value-identical to Spark but hash-different dtypes
    return f"""
SELECT CAST({res} AS DOUBLE) AS resolution, count(*) AS n_tiles,
       CAST(sum(n) AS BIGINT) AS n_docs FROM (
  SELECT count(*) AS n FROM (
    SELECT
      CAST(CASE WHEN (x - b.xmin) = floor((x - b.xmin) / {res}) * {res}
                     AND floor((x - b.xmin) / {res}) > 0
                THEN floor((x - b.xmin) / {res}) - 1
                ELSE floor((x - b.xmin) / {res}) END AS BIGINT) AS col_i,
      CAST(CASE WHEN (y - b.ymin) = floor((y - b.ymin) / {res}) * {res}
                     AND floor((y - b.ymin) / {res}) > 0
                THEN floor((y - b.ymin) / {res}) - 1
                ELSE floor((y - b.ymin) / {res}) END AS BIGINT) AS row_i
    FROM d, (SELECT floor(min(x) - {h}) AS xmin, floor(min(y) - {h}) AS ymin FROM d) b
  ) GROUP BY row_i, col_i
)"""


SQL_MULTIRES_TILE_COUNTS = (
    f"WITH {_SQL_DOCS}\n"
    + _sql_multires_one(50.0)
    + "\nUNION ALL\n"
    + _sql_multires_one(100.0)
    + "\nUNION ALL\n"
    + _sql_multires_one(200.0)
)


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: res-100 per-tile doc counts aggregated into
    res-200 parents by integer arithmetic on the packed ids (no re-scan)."""
    wc, spec = _sq_tiles(spark, sf_dir)
    base = wc.groupBy("cell_id").agg(F.count(F.lit(1)).cast("double").alias("pixelval"))
    rolled, pspec = R.rollup_tiles(base, spec, factor=2)
    row, col = X.unpack_rowcol("cell_id")
    return rolled.select(
        row.cast("long").alias("prow"),
        col.cast("long").alias("pcol"),
        F.col("pixelval").cast("long").alias("n_docs"),
        "cx",
        "cy",
    )


SQL_TILE_PYRAMID = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT CAST(floor(row_i / 2.0) AS BIGINT) AS prow,
       CAST(floor(col_i / 2.0) AS BIGINT) AS pcol,
       count(*) AS n_docs,
       any_value(xmin) + (CAST(floor(col_i / 2.0) AS BIGINT) + 0.5) * 200.0 AS cx,
       any_value(ymin) + (CAST(floor(row_i / 2.0) AS BIGINT) + 0.5) * 200.0 AS cy
FROM c GROUP BY 1, 2
"""


def q_raster_assay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-assay selection: rows discriminated by an assay column; only
    the requested assay's docs rasterize (eager validation; grid from the
    FULL data so assays share one grid)."""
    d = docs_with_coords(spark, sf_dir).withColumn(
        "assay", F.concat(F.lit("a"), (F.col("doc_id") % 2).cast("string"))
    ).withColumn(
        "values",
        F.array(F.struct(F.lit("n_chars").alias("feature"), F.col("val").alias("value"))),
    )
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    t = R.rasterize_gene_expression(
        d, RES, fun="sum", spec=spec, assay_col="assay", assay_name="a1"
    )
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        F.col("pixelval").alias("sum_val"),
        F.col("num_cell").cast("long").alias("num_cell"),
    )


SQL_RASTER_ASSAY = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT row_i, col_i, sum(val) AS sum_val, count(*) AS num_cell
FROM c WHERE doc_id % 2 = 1
GROUP BY row_i, col_i
"""


def q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule invariant, oracle-checked: per-document span sequences
    (kind, text, media_ref, order) survive the interleaved-payload pipeline
    unchanged. Spans are built deterministically, dragged as an opaque array
    through the real pipeline (tile encode → per-tile aggregate → join back
    to docs), then posexploded; the oracle constructs the expected rows
    directly — any perturbation (reorder, truncation, loss) hash-mismatches."""
    d = docs_with_coords(spark, sf_dir)
    kinds = ["text", "image", "audio"]
    spans = F.array(
        *[
            F.struct(
                F.lit(kinds[i]).alias("kind"),
                F.substring("text", i * 10 + 1, 8).alias("piece"),
                (
                    F.lit("")
                    if kinds[i] == "text"
                    else F.concat(F.lit("media://"), F.col("doc_id").cast("string"), F.lit(f"/{i}"))
                ).alias("media_ref"),
                F.lit(i).cast("long").alias("offset"),
            )
            for i in range(3)
        ]
    )
    with_spans = d.withColumn("spans", spans)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)
    wc = R.assign_tiles(with_spans, spec)
    meta = wc.groupBy("cell_id").agg(F.count(F.lit(1)).alias("num_cell"))
    joined = wc.join(F.broadcast(meta), "cell_id")
    out = joined.select(
        "doc_id", "num_cell", F.posexplode("spans").alias("span_idx", "_s")
    )
    return out.select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        F.col("_s.kind").alias("kind"),
        F.col("_s.piece").alias("piece"),
        F.col("_s.media_ref").alias("media_ref"),
        F.col("_s.offset").alias("offset"),
        F.col("num_cell").cast("long").alias("num_cell"),
    )


def _sql_span_roundtrip() -> str:
    kinds = ["text", "image", "audio"]
    parts = []
    for i, k in enumerate(kinds):
        media = "''" if k == "text" else f"'media://' || CAST(doc_id AS VARCHAR) || '/{i}'"
        parts.append(
            f"SELECT c.doc_id, CAST({i} AS BIGINT) AS span_idx, '{k}' AS kind, "
            f"substr(c.text, {i * 10 + 1}, 8) AS piece, {media} AS media_ref, "
            f"CAST({i} AS BIGINT) AS offset, n.num_cell "
            f"FROM c JOIN n USING (row_i, col_i)"
        )
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
n AS (SELECT row_i, col_i, count(*) AS num_cell FROM c GROUP BY 1, 2)
{body}
"""


SQL_SPAN_ROUNDTRIP = _sql_span_roundtrip()


# raster -> vector ------------------------------------------------------------


# polygon-corpus coverage rects for the tile_wkt row: .5-offset bounds so
# every S-H intersection parameter is exact and the engine's vectorized
# rect path == closed-form min/max overlap bitwise (r4/r5 property)
_COV_RECTS = [
    (120.5, 80.5, 1620.5, 1080.5, 3.0),
    (900.5, 600.5, 2400.5, 1900.5, 5.0),
    (-200.5, -100.5, 300.5, 400.5, 7.0),
]


def q_tile_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiles at res 500 with closed-ring WKT polygons (engine path uses the
    Arrow-batched numpy polygonizer).

    r5: the row also carries POLYGON-CORPUS COVERAGE (vector.
    rasterize_polygons — terra::rasterize(polygons) analog): three rect
    polygons as DATA rows burned onto the same grid via the fused-partials
    mapInPandas kernel; per tile n_polys / cov_frac / w_burn (area-weighted
    burn mass), LEFT-joined so coverage-free tiles carry NULLs. The DuckDB
    twin recomputes the closed-form rect∩tile overlap per occupied tile —
    bit-exact because every summed term is a dyadic product."""
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for
    from .vector import rasterize_polygons, tiles_with_wkt

    spec = grid_spec_for(d, 500.0, square=True)
    wc = R.assign_tiles(d, spec)
    tiles = wc.groupBy("cell_id").agg(F.count(F.lit(1)).alias("num_cell"))
    wkt = tiles_with_wkt(tiles, spec)
    row, col = X.unpack_rowcol("cell_id")
    base = wkt.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        F.col("num_cell").cast("long").alias("num_cell"),
        F.col("geometry_wkt").alias("wkt"),
    )
    polys = spark.createDataFrame(
        [
            (i, [xa, xb, xb, xa], [ya, ya, yb, yb], v)
            for i, (xa, ya, xb, yb, v) in enumerate(_COV_RECTS)
        ],
        "poly_id long, xs array<double>, ys array<double>, burn double",
    )
    cov = rasterize_polygons(polys, spec, ("burn",))
    crow, ccol = X.unpack_rowcol("cell_id")
    cov = cov.select(
        crow.cast("long").alias("row_i"),
        ccol.cast("long").alias("col_i"),
        "n_polys",
        "cov_frac",
        "w_burn",
    )
    return base.join(cov, ["row_i", "col_i"], "left")


def _sql_cov_rects() -> str:
    """Closed-form rect∩tile overlap columns replaying the engine's
    vectorized rect path term-for-term (same min/max tree, sum over the
    three rects, divisions deferred to the outer SELECT)."""
    ovs = [
        f"(GREATEST(0.0, LEAST(tx0 + 500.0, {xb}) - GREATEST(tx0, {xa}))"
        f" * GREATEST(0.0, LEAST(ty0 + 500.0, {yb}) - GREATEST(ty0, {ya})))"
        for (xa, ya, xb, yb, _v) in _COV_RECTS
    ]
    np_expr = " + ".join(f"CASE WHEN {ov} > 0.0 THEN 1 ELSE 0 END" for ov in ovs)
    ca_expr = " + ".join(ovs)
    wb_expr = " + ".join(
        f"{ov} * {v}" for ov, (_xa, _ya, _xb, _yb, v) in zip(ovs, _COV_RECTS)
    )
    return (
        f"CAST({np_expr} AS BIGINT) AS np, {ca_expr} AS ca, {wb_expr} AS wb"
    )


SQL_TILE_WKT = f"""
WITH {_SQL_DOCS},
b AS (SELECT floor(min(x) - 250.0) AS xmin, floor(min(y) - 250.0) AS ymin FROM d),
c AS (
  SELECT
    CAST(CASE WHEN (x - b.xmin) = floor((x - b.xmin) / 500.0) * 500.0
                   AND floor((x - b.xmin) / 500.0) > 0
              THEN floor((x - b.xmin) / 500.0) - 1
              ELSE floor((x - b.xmin) / 500.0) END AS BIGINT) AS col_i,
    CAST(CASE WHEN (y - b.ymin) = floor((y - b.ymin) / 500.0) * 500.0
                   AND floor((y - b.ymin) / 500.0) > 0
              THEN floor((y - b.ymin) / 500.0) - 1
              ELSE floor((y - b.ymin) / 500.0) END AS BIGINT) AS row_i,
    b.xmin, b.ymin
  FROM d, b
),
g AS (
  SELECT row_i, col_i, count(*) AS num_cell,
    'POLYGON ((' ||
    printf('%.6f %.6f', any_value(xmin) + col_i * 500.0, any_value(ymin) + row_i * 500.0) || ', ' ||
    printf('%.6f %.6f', any_value(xmin) + col_i * 500.0 + 500.0, any_value(ymin) + row_i * 500.0) || ', ' ||
    printf('%.6f %.6f', any_value(xmin) + col_i * 500.0 + 500.0, any_value(ymin) + row_i * 500.0 + 500.0) || ', ' ||
    printf('%.6f %.6f', any_value(xmin) + col_i * 500.0, any_value(ymin) + row_i * 500.0 + 500.0) || ', ' ||
    printf('%.6f %.6f', any_value(xmin) + col_i * 500.0, any_value(ymin) + row_i * 500.0) ||
    '))' AS wkt,
    any_value(xmin) + col_i * 500.0 AS tx0,
    any_value(ymin) + row_i * 500.0 AS ty0
  FROM c GROUP BY row_i, col_i
),
cv AS (
  SELECT row_i, col_i, num_cell, wkt, {_sql_cov_rects()}
  FROM g
)
SELECT row_i, col_i, num_cell, wkt,
       CASE WHEN np > 0 THEN np END AS n_polys,
       CASE WHEN np > 0 THEN ca / 250000.0 END AS cov_frac,
       CASE WHEN np > 0 THEN wb / 250000.0 END AS w_burn
FROM cv
"""


# vector -> raster (polygon filter) -------------------------------------------

_POLY = [(300.0, 200.0), (2600.0, 400.0), (2500.0, 1800.0), (500.0, 1700.0)]


def q_polygon_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for
    from .vector import filter_by_polygon

    spec = grid_spec_for(d, RES, square=True)
    wc = R.assign_tiles(d, spec)
    return filter_by_polygon(wc, _POLY, spec).select("doc_id", "x", "y")


def _sql_convex_pip() -> str:
    """Point-in-convex-polygon by cross-product sign (CCW ring, boundary
    inclusive) — vertices chosen so no integer doc coordinate lies exactly
    on an edge (verified at build time)."""
    conds = []
    pts = _POLY + [_POLY[0]]
    for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
        conds.append(
            f"(({x1} - {x0}) * (y - {y0}) - ({y1} - {y0}) * (x - {x0})) >= 0"
        )
    return " AND ".join(conds)


SQL_POLYGON_FILTER = f"""
WITH {_SQL_DOCS}
SELECT doc_id, x, y FROM d WHERE {_sql_convex_pip()}
"""


_POLY_A = [(300.0, 200.0), (2600.0, 400.0), (2500.0, 1800.0), (500.0, 1700.0)]
_POLY_B = [(1400.0, 100.0), (2900.0, 900.0), (1500.0, 1900.0)]


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs × polygons containment join (covering-cell equi-join + exact
    PIP); overlapping polygons → multi-membership rows.

    r5: routed through ``spatial_join_corpus`` — the polygons enter as
    DATA ROWS (ring vertex arrays), exercising the corpus-scale path
    (mapInPandas cover generation, ring payload on the join, grouped
    Arrow PIP) against the same convex half-plane SQL twin. The dict
    ``spatial_join`` (q_zonal_stats) runs the same cover step on the
    driver and the same join + PIP kernel, with the rings held on the
    driver instead of on the rows."""
    from .bbox import grid_spec_for
    from .vector import spatial_join_corpus

    d = docs_with_coords(spark, sf_dir)
    spec = grid_spec_for(d, RES, square=True)
    wc = R.assign_tiles(d, spec)
    polys = spark.createDataFrame(
        [
            ("A", [p[0] for p in _POLY_A], [p[1] for p in _POLY_A]),
            ("B", [p[0] for p in _POLY_B], [p[1] for p in _POLY_B]),
        ],
        "poly_id string, xs array<double>, ys array<double>",
    )
    out = spatial_join_corpus(wc, polys, spec)
    return out.select("doc_id", "poly_id", "x", "y")


def _sql_pip(poly: list[tuple[float, float]]) -> str:
    conds = []
    pts = poly + [poly[0]]
    for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
        conds.append(f"(({x1} - {x0}) * (y - {y0}) - ({y1} - {y0}) * (x - {x0})) >= 0")
    return " AND ".join(conds)


SQL_SPATIAL_JOIN = f"""
WITH {_SQL_DOCS}
SELECT doc_id, 'A' AS poly_id, x, y FROM d WHERE {_sql_pip(_POLY_A)}
UNION ALL
SELECT doc_id, 'B' AS poly_id, x, y FROM d WHERE {_sql_pip(_POLY_B)}
"""


_RECT_R1 = (400.5, 300.5, 1200.5, 900.5)
_RECT_R2 = (1800.5, 1000.5, 2900.5, 1900.5)


def _rect_ring(r: tuple[float, float, float, float]) -> list[tuple[float, float]]:
    x0, y0, x1, y1 = r
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the aggregate form of the spatial join: per
    polygon, doc count, value sum (integer-valued doubles ⇒ exact), kind
    cardinality, and the per-zone centroid-of-points. One covering-cell
    equi-join + one groupBy; the polygons table never exceeds broadcast
    size. Overlapping zones count shared docs in BOTH (multi-membership,
    same as q_spatial_join).

    r4: the row also carries AREA-WEIGHTED zonal stats (polygon overlay /
    areal interpolation, vector.zonal_weighted) for two rectangle zones —
    covered_area + area-apportioned doc count and value mass over the tile
    raster. Rect bounds sit on .5 offsets so no integer-coordinate doc
    lies on an edge (PIP vs open-inequality parity) and every S-H
    intersection is exact, making the weighted sums bit-reproducible (the
    op sums exact AREA·value products and divides by tile_area once)."""
    from .bbox import grid_spec_for
    from .vector import spatial_join, zonal_weighted

    d = docs_with_coords(spark, sf_dir)
    spec = grid_spec_for(d, RES, square=True)
    wc = R.assign_tiles(d, spec)
    zones = {
        "A": _POLY_A,
        "B": _POLY_B,
        "R1": _rect_ring(_RECT_R1),
        "R2": _rect_ring(_RECT_R2),
    }
    j = spatial_join(wc, zones, spec)
    ds = j.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("val").alias("sum_val"),
        F.countDistinct("kind").alias("n_kinds"),
        F.avg("x").alias("mean_x"),
        F.avg("y").alias("mean_y"),
    )
    raster = wc.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("val").alias("sv")
    )
    wz = zonal_weighted(
        raster,
        {"R1": _rect_ring(_RECT_R1), "R2": _rect_ring(_RECT_R2)},
        spec,
        ("n", "sv"),
    ).withColumnRenamed("zone_id", "poly_id")
    return ds.join(wz, "poly_id", "left")


def _sql_rect_weighted(tag: str, r: tuple[float, float, float, float]) -> str:
    x0, y0, x1, y1 = r
    ov = (
        f"GREATEST(0.0, LEAST(tx0 + 100.0, {x1}) - GREATEST(tx0, {x0}))"
        f" * GREATEST(0.0, LEAST(ty0 + 100.0, {y1}) - GREATEST(ty0, {y0}))"
    )
    return f"""
  SELECT '{tag}' AS poly_id, sum(ov) AS covered_area,
         sum(ov * n) / 10000.0 AS w_n, sum(ov * sv) / 10000.0 AS w_sv
  FROM (SELECT {ov} AS ov, n, sv FROM t) q WHERE ov > 0"""


SQL_ZONAL_STATS = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
m AS (
  SELECT doc_id, 'A' AS poly_id, x, y, val, kind FROM d WHERE {_sql_pip(_POLY_A)}
  UNION ALL
  SELECT doc_id, 'B' AS poly_id, x, y, val, kind FROM d WHERE {_sql_pip(_POLY_B)}
  UNION ALL
  SELECT doc_id, 'R1' AS poly_id, x, y, val, kind FROM d
  WHERE x > {_RECT_R1[0]} AND x < {_RECT_R1[2]} AND y > {_RECT_R1[1]} AND y < {_RECT_R1[3]}
  UNION ALL
  SELECT doc_id, 'R2' AS poly_id, x, y, val, kind FROM d
  WHERE x > {_RECT_R2[0]} AND x < {_RECT_R2[2]} AND y > {_RECT_R2[1]} AND y < {_RECT_R2[3]}
),
ds AS (
  SELECT poly_id, count(*) AS n_docs, sum(val) AS sum_val,
         CAST(count(DISTINCT kind) AS BIGINT) AS n_kinds,
         avg(x) AS mean_x, avg(y) AS mean_y
  FROM m GROUP BY poly_id
),
r2 AS (
  SELECT row_i, col_i, CAST(count(*) AS DOUBLE) AS n, sum(val) AS sv,
         any_value(xmin) AS xmin, any_value(ymin) AS ymin
  FROM c GROUP BY row_i, col_i
),
t AS (SELECT n, sv, xmin + col_i * 100.0 AS tx0, ymin + row_i * 100.0 AS ty0 FROM r2),
wz AS ({_sql_rect_weighted("R1", _RECT_R1)}
  UNION ALL{_sql_rect_weighted("R2", _RECT_R2)}
)
SELECT ds.poly_id, ds.n_docs, ds.sum_val, ds.n_kinds, ds.mean_x, ds.mean_y,
       wz.covered_area, wz.w_n, wz.w_sv
FROM ds LEFT JOIN wz ON ds.poly_id = wz.poly_id
"""


def q_raster_restricted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-type-restricted rasterization (vignette:153-157): filter to one
    kind BEFORE the pipeline — a plain pushed-down predicate."""
    d = docs_with_coords(spark, sf_dir)
    from .bbox import grid_spec_for

    spec = grid_spec_for(d, RES, square=True)  # grid from the FULL data
    sub = d.filter(F.col("kind") == "ct3")
    t = R.rasterize_cell_type(sub, RES, fun="sum", spec=spec)
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        F.col("pixelval").alias("n_ct3"),
    )


SQL_RASTER_RESTRICTED = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT row_i, col_i, CAST(count(*) AS DOUBLE) AS n_ct3
FROM c WHERE kind = 'ct3'
GROUP BY row_i, col_i
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the events table (batch equivalent of the
    streaming path): per (1h window, event_type) count + value sum. Window
    start exported as epoch seconds (integer; engine-stable)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor(value*100) -> integer sum: exact and order-independent
            # (a raw double sum would be summation-order-dependent)
            F.sum(F.floor(F.col("value") * 100.0)).cast("long").alias("sum_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )


SQL_EVENTS_WINDOW = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_epoch,
       event_type, count(*) AS n_events,
       CAST(sum(floor(value * 100.0)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


def q_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming semantics, oracle-checked: the update-mode running
    per-tile totals of streaming/stateful.py (applyInPandasWithState state =
    running doc count + kind set) replayed as a batch cumulative aggregate —
    row (tile, batch) is exactly the stateful operator's emission at trigger
    ``batch`` (pytest test_stateful_streaming asserts streaming == replay;
    this query gives the semantics a DuckDB row). Triggers simulated as
    batch = doc_id % 3."""
    from .bbox import grid_spec_for
    from .streaming.stateful import batch_replay_running_totals

    d = docs_with_coords(spark, sf_dir).withColumn(
        "batch_id", (F.col("doc_id") % 3).cast("long")
    )
    spec = grid_spec_for(d, RES, square=True)
    out = batch_replay_running_totals(d, spec)
    row, col = X.unpack_rowcol("cell_id")
    return out.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        F.col("batch_id").alias("batch"),
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("n_kinds").cast("long").alias("n_kinds"),
        F.col("batch_docs").cast("long").alias("batch_docs"),
    )


SQL_STATEFUL_TOTALS = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(doc_id % 3 AS BIGINT) AS batch, kind FROM c),
gb AS (SELECT DISTINCT row_i, col_i, batch FROM r)
SELECT gb.row_i, gb.col_i, gb.batch,
       count(*) AS total_docs,
       CAST(count(DISTINCT t.kind) AS BIGINT) AS n_kinds,
       CAST(sum(CASE WHEN t.batch = gb.batch THEN 1 ELSE 0 END) AS BIGINT) AS batch_docs
FROM gb JOIN r t
  ON t.row_i = gb.row_i AND t.col_i = gb.col_i AND t.batch <= gb.batch
GROUP BY gb.row_i, gb.col_i, gb.batch
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window rollup (1 hour window, 30 min slide): every event
    lands in exactly duration/slide = 2 windows. Completes the window-family
    triple (tumbling `events_window`, session `events_sessions`). DuckDB
    twin: union of the two slide-aligned bucket assignments — window starts
    s with s ≤ ts < s+1h and s ≡ 0 (mod 30m) are exactly
    time_bucket(30m, ts) and time_bucket(30m, ts) − 30m."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100.0)).cast("long").alias("sum_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )


SQL_EVENTS_SLIDING = """
WITH w AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws,
         event_type, value
  FROM events
)
SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start_epoch,
       event_type, count(*) AS n_events,
       CAST(sum(floor(value * 100.0)) AS BIGINT) AS sum_cents
FROM w GROUP BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation over the events table (§2.10 streaming
    category, session windows): per event_type, events closer than the gap
    merge into one session. ``F.session_window`` is the identical expression
    the streaming path would use (stream-capable with a watermark); run here
    in batch so DuckDB can replay it as classic gaps-and-islands. Spark
    semantics: each event opens [ts, ts+gap); sessions merge iff they
    OVERLAP, so a successor exactly gap away starts a NEW session (end
    exclusive) — the oracle's new-session condition is therefore
    ``diff >= gap``. Session end = last event + gap."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100.0)).cast("long").alias("sum_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            F.unix_timestamp(F.col("w.end")).alias("session_end_epoch"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )


SQL_EVENTS_SESSIONS = """
WITH o AS (
  SELECT event_type, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY event_type ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
                   >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY event_type ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts) + INTERVAL '10 minutes')) AS BIGINT) AS session_end_epoch,
       event_type, count(*) AS n_events,
       CAST(sum(floor(value * 100.0)) AS BIGINT) AS sum_cents
FROM s GROUP BY event_type, sid
"""


_HQ_EDGES = [0.0, 50.0, 100.0, 200.0, 400.0, 800.0, 1600.0, 3200.0, 6400.0, 12800.0]


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile aggregates per source (statistical-aggregate
    category): median and p90 of document length. Exact percentiles are
    sort-based with linear interpolation at rank p·(n−1) — identical
    definition in Spark `percentile` and DuckDB `quantile_cont`, and exact
    on integer-valued doubles (no order-dependent float summation, unlike
    stddev/corr which are NOT bit-reproducible across partitionings).

    r4: the row also carries hq50/hq90 from the MERGEABLE histogram-
    quantile sketch (sketch.histogram_quantiles — O(bins) state, one
    map-side-combinable agg; the 100 TB path where a full sort is off the
    table). Fixed boundaries + integer counts + fixed-order interpolation
    make the approximate estimates bit-deterministic, so the sketch itself
    oracle-checks (the KMV-over-HLL argument again)."""
    from .sketch import histogram_quantiles

    d = read_table(spark, sf_dir, "documents")
    nc = F.col("n_chars").cast("double")
    exact = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile(nc, F.lit(0.5)).alias("p50_chars"),
        F.percentile(nc, F.lit(0.9)).alias("p90_chars"),
        F.min(nc).alias("min_chars"),
        F.max(nc).alias("max_chars"),
    )
    hq = histogram_quantiles(
        d, F.col("n_chars"), [0.5, 0.9], _HQ_EDGES, group_cols=["source"]
    ).select(
        "source",
        F.col("q_50").alias("hq50_chars"),
        F.col("q_90").alias("hq90_chars"),
    )
    return exact.join(hq, "source")


def _sql_hq() -> str:
    interior = _HQ_EDGES[1:-1]
    bin_expr = " + ".join(
        f"CASE WHEN CAST(n_chars AS DOUBLE) >= {e} THEN 1 ELSE 0 END"
        for e in interior
    )
    lows = ", ".join(str(b) for b in _HQ_EDGES[:-1])
    highs = ", ".join(str(b) for b in _HQ_EDGES[1:])

    def est(p: float) -> str:
        t = f"{p} * _tot"
        return (
            f"max(CASE WHEN _cum >= {t} AND _cum - _n < {t} THEN "
            f"[{lows}][_b + 1] + ([{highs}][_b + 1] - [{lows}][_b + 1])"
            f" * ({t} - (_cum - _n)) / _n END)"
        )

    return f"""
hb AS (SELECT source, ({bin_expr}) AS _b FROM documents
      WHERE n_chars IS NOT NULL),
hc AS (SELECT source, _b, count(*) AS _n FROM hb GROUP BY 1, 2),
hcc AS (SELECT *, sum(_n) OVER (PARTITION BY source ORDER BY _b) AS _cum,
               sum(_n) OVER (PARTITION BY source) AS _tot FROM hc),
hq AS (SELECT source, {est(0.5)} AS hq50_chars, {est(0.9)} AS hq90_chars
       FROM hcc GROUP BY source)"""


SQL_TOKEN_QUANTILES = f"""
WITH {_sql_hq()}
SELECT q.source, q.n_docs, q.p50_chars, q.p90_chars, q.min_chars, q.max_chars,
       hq.hq50_chars, hq.hq90_chars
FROM (
  SELECT source, count(*) AS n_docs,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50_chars,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90_chars,
         min(CAST(n_chars AS DOUBLE)) AS min_chars,
         max(CAST(n_chars AS DOUBLE)) AS max_chars
  FROM documents GROUP BY source
) q JOIN hq ON q.source = hq.source
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (kind, source) — all four aggregation levels
    in ONE pass over the data (SURVEY §2.10 'grouping sets/cube' category;
    Spark expands the cube map-side, so the shuffle still carries partially
    aggregated rows). grouping_id disambiguates a NULL-as-total row from a
    NULL group value; DuckDB's GROUPING() uses the same first-arg-is-MSB
    bitmask."""
    d = docs_with_coords(spark, sf_dir)
    return (
        d.cube("kind", "source")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_id"),
        )
        .select("kind", "source", "gid", "n_docs", "sum_id")
    )


SQL_CUBE_COUNTS = f"""
WITH {_SQL_DOCS}
SELECT kind, source, CAST(GROUPING(kind, source) AS BIGINT) AS gid,
       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id
FROM d GROUP BY CUBE (kind, source)
"""


# text pipeline ----------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on a 16-char text prefix: sf0.01 documents have no
    full-text duplicates at all (500 docs, 500 distinct md5s), so hashing the
    prefix (473 distinct keys / 500 docs, cross-source groups) actually
    exercises group-size counting and global-min canonical selection."""
    d = read_table(spark, sf_dir, "documents").withColumn(
        "text_key", F.substring("text", 1, 16)
    )
    dd = TX.exact_dedup(d, text_col="text_key")
    return dd.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_hash").alias("n_distinct"),
        F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).cast("long").alias("n_canonical"),
    )


SQL_DEDUP_EXACT = """
WITH h AS (
  SELECT source, md5(substr(text, 1, 16)) AS ch,
         doc_id = min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 16))) AS is_canon
  FROM documents
)
SELECT source, count(*) AS n_docs, count(DISTINCT ch) AS n_distinct,
       CAST(sum(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical
FROM h GROUP BY source
"""


_DUP_SUFFIX = " near duplicate suffix"


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (tokenizer-training primitive): per token with
    df ≥ 5, collection frequency, document frequency, and the min doc id
    containing it."""
    d = read_table(spark, sf_dir, "documents")
    return TX.vocabulary(d, min_df=5)


SQL_VOCAB = r"""
WITH toks AS (
  SELECT d.doc_id, t.tok
  FROM documents d,
       unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(tok)
  WHERE t.tok <> ''
)
SELECT tok, count(*) AS cf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       min(doc_id) AS first_doc
FROM toks GROUP BY tok
HAVING count(DISTINCT doc_id) >= 5
"""


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: corpus-wide adjacent-token-pair counts (n ≥ 3).
    Engine = zipped shifted array slices (pure Column math, no UDF);
    oracle = positional self-join via a correlated range() lateral."""
    d = read_table(spark, sf_dir, "documents")
    return (
        TX.bigrams(d)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
    )


SQL_BIGRAM_COUNTS = r"""
WITH ar AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
  FROM documents WHERE length(trim(text)) > 0
),
pos AS (
  SELECT a, unnest(generate_series(1, len(a) - 1)) AS p FROM ar
)
SELECT a[CAST(p AS INTEGER)] AS w1,
       a[CAST(p AS INTEGER) + 1] AS w2,
       count(*) AS n
FROM pos
WHERE a[CAST(p AS INTEGER)] <> '' AND a[CAST(p AS INTEGER) + 1] <> ''
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def q_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: an incoming batch = mutated copies of
    every 10th doc (genuinely new content) ∪ verbatim re-ingests of every
    5th doc (duplicates of history). Only the mutated docs survive the
    content-hash anti-join against the historical corpus.

    Runs the Bloom-prefiltered path (``method="bloom"``): the word-table
    probe routes definitely-new docs around the join entirely and the
    maybe-seen sliver through the exact anti-join — output identical to
    the plain anti-join by construction, so the SQL twin below stays the
    exact NOT EXISTS (the oracle proves the prefilter loses nothing)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_DUP_SUFFIX)).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    out = TX.new_documents(
        incoming, d, method="bloom", bloom_bits=1 << 18, bloom_hashes=5
    )
    return out.select("doc_id", "content_hash")


SQL_INCREMENTAL_NEW = f"""
WITH inc AS (
  SELECT doc_id + 1000000 AS doc_id, text || '{_DUP_SUFFIX}' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
)
SELECT i.doc_id, coalesce(md5(i.text), '__null_text__') AS content_hash
FROM inc i
WHERE NOT EXISTS (
  SELECT 1 FROM documents h
  WHERE coalesce(md5(h.text), '__null_text__')
      = coalesce(md5(i.text), '__null_text__')
)
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    t = TX.token_count(d)
    toks = TX.tokens_expr(F.col("text"))
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("len_chars"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
       len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_distinct_tokens,
       length(text) AS len_chars
FROM documents
"""


def q_lang_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens_expr(F.col("text"))

    def hits(markers: list[str]):
        # NB: a default-arg lambda would be seen as binary (element, index)
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    return d.select(
        "doc_id",
        hits(["the", "and", "of"]).cast("long").alias("en_hits"),
        hits(["der", "die", "und"]).cast("long").alias("de_hits"),
    )


SQL_LANG_MARKERS = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       t -> t IN ('the', 'and', 'of'))) AS en_hits,
       len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       t -> t IN ('der', 'die', 'und'))) AS de_hits
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens_expr(F.col("text"))
    return d.select(
        "doc_id", F.md5(F.array_join(toks, " ")).alias("fp")
    )


SQL_FINGERPRINT = r"""
SELECT doc_id,
       md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
FROM documents
"""


# embedding ANN (integer-derived vectors -> exact oracle) ----------------------


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over deterministic integer vectors derived from
    vec_id (vec[j] = (vec_id*(j+1)) % 97 + 1, the +1 keeps every vector
    nonzero): dot/norms are exact, so cosine is bit-deterministic in both
    engines."""
    from . import similarity as S

    e = read_table(spark, sf_dir, "embeddings")
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(8)),
        lambda j: (((F.col("vec_id") * j) % 97) + 1).cast("double"),
    )
    items = e.select("vec_id", vec.alias("embedding"))
    queries = items.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.brute_force_topk(items, queries, 5)
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_TOPK = """
WITH v AS (
  SELECT vec_id,
         [CAST((vec_id * 1) % 97 + 1 AS DOUBLE), CAST((vec_id * 2) % 97 + 1 AS DOUBLE),
          CAST((vec_id * 3) % 97 + 1 AS DOUBLE), CAST((vec_id * 4) % 97 + 1 AS DOUBLE),
          CAST((vec_id * 5) % 97 + 1 AS DOUBLE), CAST((vec_id * 6) % 97 + 1 AS DOUBLE),
          CAST((vec_id * 7) % 97 + 1 AS DOUBLE), CAST((vec_id * 8) % 97 + 1 AS DOUBLE)] AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id % 97 = 0),
pairs AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(v.emb, q.qemb), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(v.emb, e -> e * e)))
              * sqrt(list_sum(list_transform(q.qemb, e -> e * e)))) AS cosine
  FROM q, v
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# hash-sensitive ops via engine-agnostic hashes (md5 / exact-integer planes) ---
# The production defaults use xxhash64 / numpy gaussian planes (faster but
# Spark-only); these driver queries run the md5 / integer-plane variants so
# DuckDB can reproduce them bit-for-bit. The xxhash paths are pytest-verified.

def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated copies of every 10th doc — seeds genuine near-
    duplicate pairs so the LSH candidate pipeline is actually exercised
    (sf0.01 has no natural near-dups)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_DUP_SUFFIX)).alias("text"),
    )
    return d.unionByName(mut)


_SQL_DEDUP_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '{_DUP_SUFFIX}' AS text
  FROM documents WHERE doc_id % 10 = 0
)"""


def _sql_minhash_pairs(
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.3,
    max_bucket_size: int | None = None,
    corpus_sql: str | None = None,
) -> str:
    rows = num_perm // bands
    sig_elems = ",\n    ".join(
        f"list_min(list_transform(sh, s -> md5('{p}:' || s)))" for p in range(num_perm)
    )
    # degenerate-bucket cap twin (text.cap_buckets): HAVING over band sizes
    cap_ctes, pairs_src = "", "banded"
    if max_bucket_size is not None:
        cap_ctes = f""",
bs AS (SELECT band, bhash FROM banded GROUP BY band, bhash HAVING count(*) <= {max_bucket_size}),
bandedc AS (SELECT banded.* FROM banded JOIN bs USING (band, bhash))"""
        pairs_src = "bandedc"
    return rf"""
WITH {corpus_sql or _SQL_DEDUP_CORPUS},
tk AS (
  SELECT doc_id AS _id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM corpus
),
base AS (
  SELECT _id, list_distinct(list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1),
                            i -> array_to_string(t[i:i+{n - 1}], ' '))) AS sh
  FROM tk WHERE len(t) >= {n}
),
sig AS (SELECT _id, [{sig_elems}] AS sig FROM base),
banded AS (
  SELECT _id, b.band,
         md5(array_to_string(sig[({rows}*b.band+1):({rows}*b.band+{rows})], ',')) AS bhash
  FROM sig, (SELECT unnest(range(0, {bands})) AS band) b
){cap_ctes},
p AS (
  SELECT l._id AS id_a, r._id AS id_b
  FROM {pairs_src} l JOIN {pairs_src} r ON l.band = r.band AND l.bhash = r.bhash AND l._id < r._id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
  FROM p JOIN base a ON a._id = p.id_a JOIN base b ON b._id = p.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {threshold}
"""


# degenerate-bucket cap, oracle-checked with a cap that actually BITES -------
_CAP_CLONES = 40
_CAP_SIZE = 20


def _capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_dedup_corpus ∪ a degenerate block: 40 verbatim copies of doc 17's
    text (with doc 17 itself ⇒ a 41-member bucket in EVERY band — the
    pathological hot bucket the cap exists for)."""
    base = _dedup_corpus(spark, sf_dir)
    clone_src = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 17)
        .select("text")
    )
    clones = (
        spark.range(_CAP_CLONES)
        .crossJoin(F.broadcast(clone_src))
        .select((F.col("id") + 2000000).alias("doc_id"), "text")
    )
    return base.unionByName(clones)


_SQL_CAPPED_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '{_DUP_SUFFIX}' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 2000000 + t.r AS doc_id, d.text
  FROM range(0, {_CAP_CLONES}) t(r), (SELECT text FROM documents WHERE doc_id = 17) d
)"""


def q_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs over a corpus seeded with a degenerate 41-member LSH
    bucket, with max_bucket_size=20: the hot bucket's 820 clone pairs are
    dropped in BOTH engines (engine: cap_buckets; oracle: HAVING count(*)
    <= cap on band sizes) and the genuine near-dup pairs survive — the cap
    semantics themselves are bit-exact vs the oracle."""
    corpus = _capped_corpus(spark, sf_dir)
    return TX.minhash_lsh_candidates(
        corpus, verify_threshold=0.3, hash="md5", max_bucket_size=_CAP_SIZE
    )


SQL_MINHASH_PAIRS_CAPPED = _sql_minhash_pairs(
    max_bucket_size=_CAP_SIZE, corpus_sql=_SQL_CAPPED_CORPUS
)


def _sql_simhash() -> str:
    hexs = "0123456789abcdef"
    votes = ",\n    ".join(
        f"sum(CASE WHEN ((strpos('{hexs}', substr(m, {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    nibbles = "\n    || ".join(
        f"substr('{hexs}', (CASE WHEN v{4 * j} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN v{4 * j + 1} > 0 THEN 2 ELSE 0 END)"
        f" + (CASE WHEN v{4 * j + 2} > 0 THEN 4 ELSE 0 END)"
        f" + (CASE WHEN v{4 * j + 3} > 0 THEN 8 ELSE 0 END) + 1, 1)"
        for j in range(16)
    )
    return rf"""
WITH tok AS (
  SELECT doc_id AS _id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
  FROM documents
),
h AS (SELECT _id, md5(t) AS m FROM tok),
votes AS (SELECT _id, {votes} FROM h GROUP BY _id)
SELECT _id AS doc_id, {nibbles} AS simhash_hex FROM votes
"""


# LSH ANN with exact-integer ±1 hyperplanes: bucket bits are signs of exact
# integer dot products, so both engines compute identical buckets; the same
# plane matrix is a module literal here and inlined into the SQL text.
import random as _random

_LSH_DIM = 16
_LSH_PLANES_N = 10
_lsh_rnd = _random.Random(11)
LSH_PLANES = [
    [1.0 if _lsh_rnd.random() < 0.5 else -1.0 for _ in range(_LSH_DIM)]
    for _ in range(_LSH_PLANES_N)
]


def _vec16_expr():
    return F.transform(
        F.sequence(F.lit(1), F.lit(_LSH_DIM)),
        lambda j: (((F.col("vec_id") * j) % 97) + 1).cast("double"),
    )


# shared SQL fragments — the ONE source of truth mirroring _vec16_expr /
# LSH_PLANES; every embedding oracle (lsh_ann, ivf_ann, cosine_near_dup)
# must build from these so a change can't silently fork the vector space
def _sql_emb16() -> str:
    return ", ".join(
        f"CAST((vec_id * {j}) % 97 + 1 AS DOUBLE)" for j in range(1, _LSH_DIM + 1)
    )


def _sql_bucket_expr() -> str:
    terms = []
    for p, plane in enumerate(LSH_PLANES):
        dot = " ".join(
            f"{'+' if s > 0 else '-'} emb[{j + 1}]" for j, s in enumerate(plane)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _sql_cosine(a: str = "emb", b: str = "qemb") -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
        f" / (sqrt(list_sum(list_transform({a}, e -> e * e)))"
        f" * sqrt(list_sum(list_transform({b}, e -> e * e))))"
    )


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH multi-probe ANN over deterministic integer vectors with ±1 integer
    hyperplanes — buckets, candidates, and cosines all engine-reproducible
    (probes = original bucket + all 10 single-bit flips, so the oracle can
    enumerate them)."""
    import numpy as np

    from . import similarity as S

    e = read_table(spark, sf_dir, "embeddings")
    items = e.select("vec_id", _vec16_expr().alias("embedding"))
    queries = items.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.lsh_topk(
        items, queries, 5, dim=_LSH_DIM,
        n_probes=_LSH_PLANES_N + 1, planes=np.array(LSH_PLANES),
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_lsh_ann() -> str:
    probes = ", ".join(
        ["qb"] + [f"xor(qb, {1 << b})" for b in range(_LSH_PLANES_N)]
    )
    return f"""
WITH v AS (SELECT vec_id, [{_sql_emb16()}] AS emb FROM embeddings),
bk AS (SELECT vec_id, emb, {_sql_bucket_expr()} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qb FROM bk WHERE vec_id % 97 = 0),
probes AS (SELECT query_id, qemb, unnest([{probes}]) AS bucket FROM q),
cand AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         any_value(p.qemb) AS qemb, any_value(b.emb) AS emb
  FROM probes p JOIN bk b ON b.bucket = p.bucket
  GROUP BY 1, 2
),
scored AS (SELECT query_id, neighbor_id, {_sql_cosine()} AS cosine FROM cand),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


SQL_LSH_ANN = _sql_lsh_ann()


# IVF ANN with explicit integer centroids: list assignment is an exact
# integer argmin (first-index tie-break, verified tie-free for every vector
# class at build time), so both engines compute identical inverted lists.
IVF_CENTROIDS = [
    [float(((c * 7 + j * 13) % 97) + 1) for j in range(_LSH_DIM)] for c in range(8)
]
_IVF_NPROBE = 3


def _ivf_query_probes() -> list[int]:
    """The (single-class) query vector is all-ones (vec_id%97==0 ⇒ every
    component (0*j)%97+1 = 1); its n_probe nearest centroid indices are a
    compile-time constant shared by the Spark call and the SQL text."""
    q = [1.0] * _LSH_DIM
    d = [
        (sum((q[j] - IVF_CENTROIDS[c][j]) ** 2 for j in range(_LSH_DIM)), c)
        for c in range(len(IVF_CENTROIDS))
    ]
    return [c for _, c in sorted(d)[:_IVF_NPROBE]]


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over deterministic integer vectors with fixed integer
    centroids: assignment/probing exact in both engines; exact cosine
    re-rank inside the probed lists only."""
    import numpy as np

    from . import similarity as S

    e = read_table(spark, sf_dir, "embeddings")
    items = e.select("vec_id", _vec16_expr().alias("embedding"))
    queries = items.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk(
        items, queries, 5, dim=_LSH_DIM,
        n_probe=_IVF_NPROBE, centroids=np.array(IVF_CENTROIDS),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_ivf_ann() -> str:
    emb = _sql_emb16()
    dists = []
    for c, cent in enumerate(IVF_CENTROIDS):
        terms = " + ".join(
            f"(emb[{j + 1}] - {cent[j]}) * (emb[{j + 1}] - {cent[j]})"
            for j in range(_LSH_DIM)
        )
        dists.append(f"({terms}) AS d{c}")
    m = "least(" + ", ".join(f"d{c}" for c in range(len(IVF_CENTROIDS))) + ")"
    assign = "CASE " + " ".join(
        f"WHEN d{c} = {m} THEN {c}" for c in range(len(IVF_CENTROIDS))
    ) + " END"
    probes = ", ".join(str(p) for p in _ivf_query_probes())
    return f"""
WITH v AS (SELECT vec_id, [{emb}] AS emb FROM embeddings),
dd AS (SELECT vec_id, emb, {", ".join(dists)} FROM v),
lists AS (SELECT vec_id, emb, {assign} AS list_id FROM dd),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id % 97 = 0),
cand AS (
  SELECT q.query_id, l.vec_id AS neighbor_id, q.qemb, l.emb
  FROM q, lists l WHERE l.list_id IN ({probes})
),
scored AS (SELECT query_id, neighbor_id, {_sql_cosine()} AS cosine FROM cand),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


SQL_IVF_ANN = _sql_ivf_ann()


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (pairs are not clusters — duplicates are
    transitive): MinHash md5 pairs at jaccard ≥ 0.5 → distributed hash-min
    connected components → canonical per cluster. Oracle: recursive-CTE
    transitive closure over the identical pair set."""
    corpus = _dedup_corpus(spark, sf_dir)
    pairs = TX.minhash_lsh_candidates(
        corpus, verify_threshold=0.5, hash="md5", max_bucket_size=100_000
    )
    return TX.dedup_clusters(pairs).select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        "is_canonical",
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pr AS ({_sql_minhash_pairs(threshold=0.5)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pr
  UNION
  SELECT id_b AS s, id_a AS d FROM pr
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
sized AS (
  SELECT c.node, c.cluster_id,
         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
  FROM comp c
)
SELECT node AS doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       node = cluster_id AS is_canonical
FROM sized
"""


def q_raster_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-aligned raster algebra: ct3 raster minus ct5 raster (outer join;
    within the algebra, a tile present in only one input counts the other
    side as a structural zero).

    r5: the row also carries SEGMENT RASTERIZATION (segments.rasterize_
    segments — the terra::rasterizeGeom(lines) analog): per-kind document
    trajectories (consecutive docs by doc_id form one polyline per kind)
    rasterized onto the SAME grid — per tile the crossing-segment count,
    the summed in-tile length fractions (Liang-Barsky clip in pure Column
    arithmetic, zero UDFs), and the fraction-weighted value mass.
    quantize_bits=20 makes every summed term an exact dyadic (frac to
    2^-20, n_chars <= 2^10 so frac*val needs 30 bits), so the aggregate is
    independent of summation order and the SQL twin reproduces it
    bit-for-bit by replaying the identical closed-form clip arithmetic.
    The final full-outer join is a true same-grid raster overlay, so a
    tile seen by only one side carries NULLs for the other side's columns
    (diff NULL on trajectory-only tiles; n_segs/seg_frac/seg_wval NULL on
    algebra-only tiles)."""
    from pyspark.sql.window import Window

    from .bbox import grid_spec_for
    from .segments import rasterize_segments
    from .vector import raster_algebra

    d = docs_with_coords(spark, sf_dir)
    spec = grid_spec_for(d, RES, square=True)
    ct = R.rasterize_cell_type(d, RES, fun="sum", spec=spec)
    out = raster_algebra(
        ct.filter(F.col("kind") == "ct3"), ct.filter(F.col("kind") == "ct5"), op="diff"
    )
    row, col = X.unpack_rowcol("cell_id")
    alg = out.select(
        row.cast("long").alias("row_i"), col.cast("long").alias("col_i"), "diff"
    )

    w = Window.partitionBy("kind").orderBy("doc_id")
    segs = (
        d.select(
            "kind",
            "doc_id",
            "val",
            F.col("x").alias("x0"),
            F.col("y").alias("y0"),
            F.lead("x").over(w).alias("x1"),
            F.lead("y").over(w).alias("y1"),
        )
        .filter(F.col("x1").isNotNull())
    )
    sr = rasterize_segments(segs, spec, value_cols=("val",), quantize_bits=20)
    srow, scol = X.unpack_rowcol("cell_id")
    seg_raster = sr.select(
        srow.cast("long").alias("row_i"),
        scol.cast("long").alias("col_i"),
        "n_segs",
        F.col("frac_sum").alias("seg_frac"),
        F.col("w_val").alias("seg_wval"),
    )
    return alg.join(seg_raster, ["row_i", "col_i"], "full_outer")


# segment-rasterization twin: replays segments.segment_tile_fractions'
# closed-form Liang-Barsky clip with the IDENTICAL floating-point expression
# trees (same parenthesization), so every per-(segment, tile) fraction is
# bit-identical; quantization to 2^-20 then makes the sums order-independent.
_SQL_SEG_RASTER = """
g AS (
  SELECT xmin, ymin,
         CAST(ceil((xmax - xmin) / 100.0) AS BIGINT) AS ncols,
         CAST(ceil((ymax - ymin) / 100.0) AS BIGINT) AS nrows
  FROM b
),
s0 AS (
  SELECT kind, doc_id, val, x AS x0, y AS y0,
         lead(x) OVER (PARTITION BY kind ORDER BY doc_id) AS x1,
         lead(y) OVER (PARTITION BY kind ORDER BY doc_id) AS y1
  FROM d
),
s1 AS (
  SELECT s0.*, g.*, x1 - x0 AS sdx, y1 - y0 AS sdy FROM s0, g WHERE x1 IS NOT NULL
),
s2 AS (
  SELECT *,
         CAST(CASE WHEN (x0 - xmin) = floor((x0 - xmin) / 100.0) * 100.0
                        AND floor((x0 - xmin) / 100.0) > 0
                   THEN floor((x0 - xmin) / 100.0) - 1
                   ELSE floor((x0 - xmin) / 100.0) END AS BIGINT) AS tie_col,
         CAST(CASE WHEN (y0 - ymin) = floor((y0 - ymin) / 100.0) * 100.0
                        AND floor((y0 - ymin) / 100.0) > 0
                   THEN floor((y0 - ymin) / 100.0) - 1
                   ELSE floor((y0 - ymin) / 100.0) END AS BIGINT) AS tie_row
  FROM s1
),
s3 AS (
  SELECT *,
         greatest(CASE WHEN sdx <> 0
                       THEN CAST(floor((least(x0, x1) - xmin) / 100.0) AS BIGINT)
                       ELSE tie_col END, CAST(0 AS BIGINT)) AS c_lo,
         least(CASE WHEN sdx <> 0
                    THEN CAST(floor((greatest(x0, x1) - xmin) / 100.0) AS BIGINT)
                    ELSE tie_col END, ncols - 1) AS c_hi
  FROM s2
),
ex AS (
  SELECT *, unnest(generate_series(c_lo, c_hi)) AS ci FROM s3 WHERE c_lo <= c_hi
),
ux AS (
  SELECT *,
         greatest(CASE WHEN sdx <> 0
                       THEN least(((xmin + ci * 100.0) - x0) / sdx,
                                  (((xmin + ci * 100.0) + 100.0) - x0) / sdx)
                       ELSE 0.0 END, 0.0) AS u0,
         least(CASE WHEN sdx <> 0
                    THEN greatest(((xmin + ci * 100.0) - x0) / sdx,
                                  (((xmin + ci * 100.0) + 100.0) - x0) / sdx)
                    ELSE 1.0 END, 1.0) AS u1
  FROM ex
),
uy AS (
  SELECT *, y0 + u0 * sdy AS ya, y0 + u1 * sdy AS yb FROM ux WHERE u0 <= u1
),
ry AS (
  SELECT *,
         greatest(CASE WHEN sdy <> 0
                       THEN CAST(floor((least(ya, yb) - ymin) / 100.0) AS BIGINT) - 1
                       ELSE tie_row END, CAST(0 AS BIGINT)) AS r_lo,
         least(CASE WHEN sdy <> 0
                    THEN CAST(floor((greatest(ya, yb) - ymin) / 100.0) AS BIGINT) + 1
                    ELSE tie_row END, nrows - 1) AS r_hi
  FROM uy
),
ey AS (
  SELECT *, unnest(generate_series(r_lo, r_hi)) AS ri FROM ry WHERE r_lo <= r_hi
),
tt AS (
  SELECT *,
         greatest(u0, CASE WHEN sdy <> 0
                           THEN least(((ymin + ri * 100.0) - y0) / sdy,
                                      (((ymin + ri * 100.0) + 100.0) - y0) / sdy)
                           ELSE 0.0 END) AS t0,
         least(u1, CASE WHEN sdy <> 0
                        THEN greatest(((ymin + ri * 100.0) - y0) / sdy,
                                      (((ymin + ri * 100.0) + 100.0) - y0) / sdy)
                        ELSE 1.0 END) AS t1
  FROM ey
),
fr AS (
  SELECT ri, ci, floor((t1 - t0) * 1048576.0 + 0.5) / 1048576.0 AS frac, val
  FROM tt WHERE (t1 - t0) > 0.0
),
segr AS (
  SELECT ri AS row_i, ci AS col_i, count(*) AS n_segs,
         sum(frac) AS seg_frac, sum(frac * val) AS seg_wval
  FROM fr WHERE frac > 0.0 GROUP BY 1, 2
)"""


SQL_RASTER_ALGEBRA = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
a2 AS (SELECT row_i, col_i, CAST(count(*) AS DOUBLE) AS v FROM c WHERE kind = 'ct3' GROUP BY 1, 2),
b2 AS (SELECT row_i, col_i, CAST(count(*) AS DOUBLE) AS v FROM c WHERE kind = 'ct5' GROUP BY 1, 2),
alg AS (
  SELECT coalesce(a2.row_i, b2.row_i) AS row_i,
         coalesce(a2.col_i, b2.col_i) AS col_i,
         coalesce(a2.v, 0.0) - coalesce(b2.v, 0.0) AS diff
  FROM a2 FULL OUTER JOIN b2 ON a2.row_i = b2.row_i AND a2.col_i = b2.col_i
),
{_SQL_SEG_RASTER}
SELECT coalesce(alg.row_i, segr.row_i) AS row_i,
       coalesce(alg.col_i, segr.col_i) AS col_i,
       alg.diff, segr.n_segs, segr.seg_frac, segr.seg_wval
FROM alg FULL OUTER JOIN segr
  ON alg.row_i = segr.row_i AND alg.col_i = segr.col_i
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (inverted-index pruned) over the
    near-dup-seeded corpus, with the df>50 stop-shingle cap applied
    identically in the SQL twin (HAVING over the inverted index)."""
    corpus = _dedup_corpus(spark, sf_dir)
    return TX.ngram_jaccard(corpus, threshold=0.4, max_df=50)


SQL_NGRAM_JACCARD = rf"""
WITH {_SQL_DEDUP_CORPUS},
tk AS (
  SELECT doc_id AS _id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM corpus
),
base AS (
  SELECT _id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                            i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM tk WHERE len(t) >= 3
),
inv AS (SELECT _id, unnest(sh) AS g FROM base),
freq AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 50),
invc AS (SELECT inv._id, inv.g FROM inv JOIN freq USING (g)),
cand AS (
  SELECT l._id AS id_a, r._id AS id_b
  FROM invc l JOIN invc r ON l.g = r.g AND l._id < r._id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
  FROM cand JOIN base a ON a._id = cand.id_a JOIN base b ON b._id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.4
"""


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates over deterministic integer vectors
    with the shared ±1 integer planes; vec_ids congruent mod 97 have
    IDENTICAL vectors, so real duplicate pairs exist and bucket together."""
    import numpy as np

    from . import similarity as S

    e = read_table(spark, sf_dir, "embeddings")
    items = e.select("vec_id", _vec16_expr().alias("embedding"))
    return S.cosine_near_duplicates(
        items,
        threshold=0.999,
        dim=_LSH_DIM,
        planes=np.array(LSH_PLANES),
        max_bucket_size=100_000,
    )


def _sql_cosine_near_dup() -> str:
    return f"""
WITH v AS (SELECT vec_id, [{_sql_emb16()}] AS emb FROM embeddings),
bk AS (SELECT vec_id, emb, {_sql_bucket_expr()} AS bucket FROM v),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         any_value(l.emb) AS ea, any_value(r.emb) AS eb
  FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  GROUP BY 1, 2
),
scored AS (SELECT id_a, id_b, {_sql_cosine('ea', 'eb')} AS cosine FROM pairs)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.999
"""


SQL_COSINE_NEAR_DUP = _sql_cosine_near_dup()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    q = TX.quality_score(d)
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "alpha_ratio",
        "distinct_token_ratio",
        "mean_word_len",
        "quality_score",
    )


SQL_QUALITY_SCORE = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS n_alpha
  FROM documents
),
m AS (
  SELECT doc_id, len(toks) AS n_tok, n_chars,
         CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
         CAST(n_chars - (len(toks) - 1) AS DOUBLE) / greatest(len(toks), 1) AS mean_wordlen
  FROM t
)
SELECT doc_id, n_tok AS n_tokens, alpha_ratio,
       distinct_ratio AS distinct_token_ratio,
       mean_wordlen AS mean_word_len,
       0.25 * (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
       + 0.25 * (CASE WHEN mean_wordlen >= 2.0 AND mean_wordlen <= 12.0 THEN 1.0 ELSE 0.0 END)
       + 0.25 * alpha_ratio
       + 0.25 * distinct_ratio AS quality_score
FROM m
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full language-ID argmax (marker-hit counts → (hits, lang) struct max
    with 'und' fallback)."""
    d = read_table(spark, sf_dir, "documents")
    return TX.lang_id(d).select("doc_id", "lang_guess")


def _sql_lang_id() -> str:
    from .text import _LANG_MARKERS

    hit_exprs = {}
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_exprs[lang] = (
            rf"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),"
            rf" tk -> tk IN ({lst})))"
        )
    # Spark's array_max over (hits, lang) structs tie-breaks by the LARGER
    # lang string; langs by descending string order:
    order = sorted(_LANG_MARKERS, reverse=True)
    g = "greatest(" + ", ".join(f"h_{lang}" for lang in _LANG_MARKERS) + ")"
    case = f"CASE WHEN {g} = 0 THEN 'und' "
    for lang in order[:-1]:
        case += f"WHEN h_{lang} = {g} THEN '{lang}' "
    case += f"ELSE '{order[-1]}' END"
    hits = ", ".join(f"{e} AS h_{lang}" for lang, e in hit_exprs.items())
    return f"""
WITH h AS (SELECT doc_id, {hits} FROM documents)
SELECT doc_id, {case} AS lang_guess FROM h
"""


SQL_LANG_ID = _sql_lang_id()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs over the seeded corpus: md5-hex
    signatures → 4-hex-char band join → exact nibble-XOR-popcount hamming."""
    corpus = _dedup_corpus(spark, sf_dir)
    sim = TX.simhash_md5(corpus)
    return TX.simhash_hex_candidates(sim, max_hamming=8, max_bucket_size=100_000)


def _sql_simhash_pairs(max_hamming: int = 8, bands: int = 4) -> str:
    hexs = "0123456789abcdef"
    width = 16 // bands
    sim_inner = _sql_simhash().replace("FROM documents", "FROM corpus")
    band_rows = " UNION ALL ".join(
        f"SELECT _id, sim, {b} AS band, substr(sim, {b * width + 1}, {width}) AS bval FROM s"
        for b in range(bands)
    )
    def ham(ca: str, cb: str) -> str:
        return " + ".join(
            f"bit_count(xor(strpos('{hexs}', substr({ca}, {j + 1}, 1)) - 1, "
            f"strpos('{hexs}', substr({cb}, {j + 1}, 1)) - 1))"
            for j in range(16)
        )
    return f"""
WITH {_SQL_DEDUP_CORPUS},
s AS (SELECT doc_id AS _id, simhash_hex AS sim FROM ({sim_inner})),
banded AS ({band_rows}),
p AS (
  SELECT l._id AS id_a, r._id AS id_b,
         any_value(l.sim) AS sima, any_value(r.sim) AS simb
  FROM banded l JOIN banded r ON l.band = r.band AND l.bval = r.bval AND l._id < r._id
  GROUP BY 1, 2
),
hd AS (
  SELECT id_a, id_b, CAST(({ham('sima', 'simb')}) AS BIGINT) AS hamming
  FROM p
)
SELECT id_a, id_b, hamming FROM hd WHERE hamming <= {max_hamming}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


# ------------------------------------------------------------------------------
# registry


# ---------------------------------------------------------------------------
# neighborhood statistics / autocorrelation (focal.py)


def _sql_morton(row: str, col: str, bits: int = 16) -> str:
    """DuckDB twin of expressions.morton_sql — generated from the same
    interleave loop so both engines evaluate identical shift/mask terms."""
    terms = []
    for i in range(bits):
        terms.append(f"((({col} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({row} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def q_tile_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key per occupied tile — the sort /
    range-partition key that makes parquet min/max skipping effective for
    2D predicates at corpus scale (see expressions.morton_sql)."""

    t, _ = _sq_tiles(spark, sf_dir)
    raster = t.groupBy("row_i", "col_i").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return raster.select(
        "row_i",
        "col_i",
        "n_docs",
        F.expr(X.morton_sql("`row_i`", "`col_i`", bits=16)).alias("morton"),
    )


SQL_TILE_MORTON = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, count(*) AS n_docs FROM c GROUP BY 1, 2)
SELECT row_i, col_i, n_docs,
       CAST({_sql_morton("row_i", "col_i")} AS BIGINT) AS morton
FROM r
"""


def q_focal_mean(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Focal (moving-window 3×3 queen, center included) statistics over the
    square count raster: per existing tile, the sum/count/mean of doc counts
    over its existing neighbors. Raster-cardinality neighborhood join —
    constant 9× explode of the aggregated tiles, never a doc-level op."""
    from .focal import focal_stats

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    return focal_stats(raster, "n_docs").select(
        "row_i", "col_i", "n_docs", "focal_sum", "focal_n", "focal_mean"
    )


SQL_FOCAL_MEAN = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, count(*) AS n_docs FROM c GROUP BY 1, 2)
SELECT a.row_i, a.col_i, a.n_docs,
       CAST(sum(b.n_docs) AS BIGINT) AS focal_sum,
       count(*) AS focal_n,
       CAST(sum(b.n_docs) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS focal_mean
FROM r a JOIN r b
  ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
 AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
GROUP BY a.row_i, a.col_i, a.n_docs
"""


def _sql_bin(v: str, origin: str, res: float) -> str:
    """Square binning of coordinate ``v`` against ``origin`` at ``res`` with
    the engine's lowest-index boundary tie-break (same rule as
    _SQL_SQ_CELLS, parameterized)."""
    f = f"floor(({v} - {origin}) / {res})"
    return (
        f"CAST(CASE WHEN ({v} - {origin}) = {f} * {res} AND {f} > 0 "
        f"THEN {f} - 1 ELSE {f} END AS BIGINT)"
    )


def q_regrid_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster resampling onto a NON-NESTING coarser grid (res 100 → 250,
    same origin): each source tile's count re-addressed to the target cell
    containing its centroid. Centroids land exactly on 250-boundaries for
    col ≡ 2 (mod 5) — exercising the shared lowest-index tie-break."""
    t, spec = _sq_tiles(spark, sf_dir)
    raster = t.groupBy("row_i", "col_i").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    from .grid import GridSpec as GS

    spec_to = GS(spec.xmin, spec.ymin, spec.xmax, spec.ymax, 250.0, square=True)
    # re-pack the plain (row_i, col_i) raster into cell ids for regrid
    packed = raster.select(
        F.expr(X.pack_sql(spec.mode, spec.level, "`row_i`", "`col_i`")).alias("cell_id"),
        "n_docs",
    )
    out = R.regrid(packed, spec, spec_to, value_cols=("n_docs",), fun="sum")
    row, col = X.unpack_rowcol("cell_id")
    return out.select(
        row.cast("long").alias("row2_i"),
        col.cast("long").alias("col2_i"),
        F.col("n_docs").alias("sum_docs"),
    )


SQL_REGRID_SUM = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, count(*) AS n_docs FROM c GROUP BY 1, 2),
g AS (
  SELECT b.xmin + (col_i + 0.5) * 100.0 AS cx,
         b.ymin + (row_i + 0.5) * 100.0 AS cy,
         n_docs, b.xmin, b.ymin
  FROM r, b
)
SELECT {_sql_bin("cy", "ymin", 250.0)} AS row2_i,
       {_sql_bin("cx", "xmin", 250.0)} AS col2_i,
       CAST(sum(n_docs) AS BIGINT) AS sum_docs
FROM g GROUP BY 1, 2
"""


def q_focal_gauss(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Weighted focal smoothing with the integer binomial 1-2-1⊗1-2-1
    kernel (center 4, edges 2, corners 1) — kernel smoothing with exact
    integer weights, so the smoothed surface is oracle-checkable. The SQL
    twin derives the same weights arithmetically: w = (2−|Δrow|)·(2−|Δcol|)."""
    from .focal import binomial_kernel, focal_stats

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    return focal_stats(raster, "n_docs", kernel=binomial_kernel(1)).select(
        "row_i", "col_i", "n_docs", "focal_sum", "focal_n", "focal_mean"
    )


SQL_FOCAL_GAUSS = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, count(*) AS n_docs FROM c GROUP BY 1, 2)
SELECT a.row_i, a.col_i, a.n_docs,
       CAST(sum(b.n_docs * (2 - abs(a.row_i - b.row_i))
                         * (2 - abs(a.col_i - b.col_i))) AS BIGINT) AS focal_sum,
       CAST(sum((2 - abs(a.row_i - b.row_i))
              * (2 - abs(a.col_i - b.col_i))) AS BIGINT) AS focal_n,
       CAST(sum(b.n_docs * (2 - abs(a.row_i - b.row_i))
                         * (2 - abs(a.col_i - b.col_i))) AS DOUBLE)
         / CAST(sum((2 - abs(a.row_i - b.row_i))
                  * (2 - abs(a.col_i - b.col_i))) AS DOUBLE) AS focal_mean
FROM r a JOIN r b
  ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
 AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
GROUP BY a.row_i, a.col_i, a.n_docs
"""


_VS_ROW, _VS_COL, _VS_H = 10, 15, 1  # viewshed observer: grid center, eye +1


def q_viewshed(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Line-of-sight viewshed over the count raster (doc count as the
    elevation surface), observer at the grid-center cell: per tile, its
    Chebyshev distance to the observer (los_n) and whether it is visible —
    all-integer sight-line sampling and slope tests (focal.viewshed), so the
    boolean classification is bit-reproducible in the DuckDB twin."""
    from .focal import viewshed

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    return viewshed(
        raster, (_VS_ROW, _VS_COL), value_col="n_docs", observer_height=_VS_H
    )


# the twin replays the identical integer arithmetic: half-up rounding via
# exact floor division floordiv(a,b) = (a - pmod(a,b))/b, cross-multiplied
# slope test n*(e_sample - h) >= t*(e_target - h); absent tiles elevation 0
def _sql_floordiv(a: str, b: str) -> str:
    return f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) / ({b}) AS BIGINT)"


SQL_VIEWSHED = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(count(*) AS BIGINT) AS n_docs FROM c GROUP BY 1, 2),
obs AS (
  SELECT COALESCE(SUM(CASE WHEN row_i = {_VS_ROW} AND col_i = {_VS_COL}
                           THEN n_docs END), 0) + {_VS_H} AS h
  FROM r
),
tgt AS (
  SELECT row_i, col_i, n_docs,
         GREATEST(ABS(row_i - {_VS_ROW}), ABS(col_i - {_VS_COL})) AS n
  FROM r
),
line AS (
  SELECT row_i, col_i, n_docs, n,
         unnest(generate_series(1, n - 1)) AS t
  FROM tgt WHERE n > 1
),
samp AS (
  SELECT l.row_i, l.col_i, l.n_docs, l.n, l.t,
         {_VS_ROW} + {_sql_floordiv(f"2 * l.t * (l.row_i - {_VS_ROW}) + l.n", "2 * l.n")} AS sr,
         {_VS_COL} + {_sql_floordiv(f"2 * l.t * (l.col_i - {_VS_COL}) + l.n", "2 * l.n")} AS sc
  FROM line l
),
blk AS (
  SELECT s.row_i, s.col_i,
         MAX(CASE WHEN s.n * (COALESCE(e.n_docs, 0) - o.h)
                       >= s.t * (s.n_docs - o.h)
                  THEN 1 ELSE 0 END) AS blocked
  FROM samp s CROSS JOIN obs o
  LEFT JOIN r e ON e.row_i = s.sr AND e.col_i = s.sc
  GROUP BY 1, 2
)
SELECT tg.row_i, tg.col_i, tg.n_docs, CAST(tg.n AS BIGINT) AS los_n,
       COALESCE(b.blocked, 0) = 0 AS visible
FROM tgt tg LEFT JOIN blk b ON b.row_i = tg.row_i AND b.col_i = tg.col_i
"""


def q_terrain(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Horn terrain derivatives over the count raster (focal.terrain):
    exact-BIGINT ddx/ddy kernel numerators, bit-exact slope_ratio
    (sqrt + one division on exact integers) and the integer-octant aspect
    classification."""
    from .focal import terrain

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    return terrain(raster, "n_docs", resolution=RES).select(
        "row_i", "col_i", "ddx_num", "ddy_num", "slope_ratio", "aspect_octant"
    )


SQL_TERRAIN = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(count(*) AS BIGINT) AS n_docs FROM c GROUP BY 1, 2),
g AS (
  SELECT a.row_i, a.col_i,
         CAST(sum(b.n_docs * (b.col_i - a.col_i)
                           * (2 - ABS(b.row_i - a.row_i))) AS BIGINT) AS ddx_num,
         CAST(sum(b.n_docs * (b.row_i - a.row_i)
                           * (2 - ABS(b.col_i - a.col_i))) AS BIGINT) AS ddy_num
  FROM r a JOIN r b
    ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
   AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
  GROUP BY 1, 2
)
SELECT row_i, col_i, ddx_num, ddy_num,
       sqrt(CAST(ddx_num * ddx_num + ddy_num * ddy_num AS DOUBLE))
         / (8.0 * {RES}) AS slope_ratio,
       CAST(CASE
            WHEN ddx_num = 0 AND ddy_num = 0 THEN NULL
            WHEN 2 * ABS(ddy_num) <= ABS(ddx_num)
              THEN CASE WHEN ddx_num > 0 THEN 0 ELSE 4 END
            WHEN 2 * ABS(ddx_num) <= ABS(ddy_num)
              THEN CASE WHEN ddy_num > 0 THEN 2 ELSE 6 END
            WHEN ddx_num > 0 AND ddy_num > 0 THEN 1
            WHEN ddx_num < 0 AND ddy_num > 0 THEN 3
            WHEN ddx_num < 0 AND ddy_num < 0 THEN 5
            ELSE 7 END AS BIGINT) AS aspect_octant
FROM g
"""


def q_gi_star(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score per tile of the count raster (queen
    window incl. self). Integer-scaled numerator A = n·Σ_w x − S·m and
    variance core D = (n·S2 − S²)·m·(n−m) are exact BIGINTs; the z-score
    is two divisions + one sqrt in the same order both engines.

    r4: the per-tile row also carries ``grid_dist`` — multi-source BFS hop
    distance (focal.grid_distance, rook adjacency through occupied tiles)
    from a deterministic source set; integer hop counts are exact, and the
    DuckDB twin replays the BFS as a bounded recursive CTE. Tiles whose
    region holds no source read NULL (unreachable) in both engines.

    r5: also carries the Horn terrain derivatives (q_terrain): exact
    ddx_num/ddy_num, bit-exact slope_ratio, integer aspect_octant.

    r5b: plus Local Moran's I (focal.local_morans_i, Anselin LISA) —
    exact integer dev/lag, I_i = n·D_i·L_i / ΣD² as ONE division,
    sign-decidable HH/LL/HL/LH/NS quadrant labels."""
    from .focal import getis_ord_gi_star, grid_distance, local_morans_i

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    gi = getis_ord_gi_star(raster, "n_docs")
    sources = raster.filter((F.col("row_i") * 31 + F.col("col_i") * 17) % 11 == 0)
    # max_rounds MATCHES the oracle CTE's recursion bound (d < 128): the
    # engine raises loudly if the diameter ever exceeds it, so the two
    # sides can never silently diverge on truncated-vs-unreachable
    gd = grid_distance(raster, sources, max_rounds=128)
    # terrain over the SAME raster frame (not q_terrain, which would
    # rebuild the identical raster with one extra corpus scan + shuffle)
    from .focal import terrain

    tr = terrain(raster, "n_docs", resolution=RES).select(
        "row_i", "col_i", "ddx_num", "ddy_num", "slope_ratio", "aspect_octant"
    )
    li = local_morans_i(raster, "n_docs").select(
        "row_i", "col_i", "dev_scaled", "lag_scaled", "lag_n", "local_i", "quadrant"
    )
    return (
        gi.join(gd, ["row_i", "col_i"], "left")
        .join(tr, ["row_i", "col_i"])
        .join(li, ["row_i", "col_i"])
    )


SQL_GI_CORE = f"""
WITH RECURSIVE {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(count(*) AS BIGINT) AS n_docs FROM c GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n_docs) AS BIGINT) AS s,
              CAST(sum(n_docs * n_docs) AS BIGINT) AS s2 FROM r),
w AS (
  SELECT a.row_i, a.col_i, a.n_docs,
         CAST(sum(b.n_docs) AS BIGINT) AS wsum,
         count(*) AS window_n
  FROM r a JOIN r b
    ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
   AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
  GROUP BY a.row_i, a.col_i, a.n_docs
),
src AS (SELECT row_i, col_i FROM r WHERE (row_i * 31 + col_i * 17) % 11 = 0),
reach(row_i, col_i, d) AS (
  SELECT row_i, col_i, 0 FROM src
  UNION
  SELECT nb.row_i, nb.col_i, reach.d + 1
  FROM reach JOIN r nb
    ON abs(nb.row_i - reach.row_i) + abs(nb.col_i - reach.col_i) = 1
  WHERE reach.d < 128
),
gd AS (SELECT row_i, col_i, CAST(min(d) AS BIGINT) AS grid_dist
       FROM reach GROUP BY 1, 2)
SELECT w.row_i, w.col_i, w.n_docs, w.window_n,
       st.n * w.wsum - st.s * w.window_n AS a_scaled,
       (st.n * st.s2 - st.s * st.s) * w.window_n * (st.n - w.window_n) AS d_scaled,
       CAST(st.n * w.wsum - st.s * w.window_n AS DOUBLE)
         / sqrt(CAST((st.n * st.s2 - st.s * st.s) * w.window_n * (st.n - w.window_n)
                     AS DOUBLE)
                / CAST(st.n - 1 AS DOUBLE)) AS gi_star,
       gd.grid_dist
FROM w CROSS JOIN st
LEFT JOIN gd ON gd.row_i = w.row_i AND gd.col_i = w.col_i
"""


SQL_LISA = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(count(*) AS BIGINT) AS x FROM c GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
              CAST(sum(x * x) AS BIGINT) AS s2 FROM r),
dv AS (SELECT row_i, col_i, st.n * x - st.s AS dev FROM r, st),
lg AS (
  SELECT a.row_i, a.col_i,
         CAST(coalesce(sum(b.dev), 0) AS BIGINT) AS lag_scaled,
         CAST(count(b.dev) AS BIGINT) AS lag_n
  FROM dv a LEFT JOIN dv b
    ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
   AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
   AND NOT (b.row_i = a.row_i AND b.col_i = a.col_i)
  GROUP BY 1, 2
)
SELECT dv.row_i, dv.col_i, CAST(dv.dev AS BIGINT) AS dev_scaled,
       lg.lag_scaled, lg.lag_n,
       CASE WHEN st.n * (st.n * st.s2 - st.s * st.s) = 0 THEN NULL
            ELSE CAST(st.n * dv.dev * lg.lag_scaled AS DOUBLE)
               / CAST(st.n * (st.n * st.s2 - st.s * st.s) AS DOUBLE) END AS local_i,
       CASE WHEN dv.dev > 0 AND lg.lag_scaled > 0 THEN 'HH'
            WHEN dv.dev < 0 AND lg.lag_scaled < 0 THEN 'LL'
            WHEN dv.dev > 0 AND lg.lag_scaled < 0 THEN 'HL'
            WHEN dv.dev < 0 AND lg.lag_scaled > 0 THEN 'LH'
            ELSE 'NS' END AS quadrant
FROM dv JOIN lg ON lg.row_i = dv.row_i AND lg.col_i = dv.col_i, st
"""


SQL_GI_STAR = f"""
SELECT gs.*, tr.ddx_num, tr.ddy_num, tr.slope_ratio, tr.aspect_octant,
       li.dev_scaled, li.lag_scaled, li.lag_n, li.local_i, li.quadrant
FROM ({SQL_GI_CORE}) gs JOIN ({SQL_TERRAIN}) tr
  ON tr.row_i = gs.row_i AND tr.col_i = gs.col_i
JOIN ({SQL_LISA}) li
  ON li.row_i = gs.row_i AND li.col_i = gs.col_i
"""


def q_tile_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplar selection: the BEST document per occupied tile ranked by
    (n_chars DESC, doc_id ASC) — the 'keep the best representative per
    cell' reduction a curation pipeline runs after rasterization. One
    shuffle on the tile key; rank via row_number, so Spark inserts
    WindowGroupLimit (map-side top-k per group) automatically."""
    from pyspark.sql import Window

    t, _ = _sq_tiles(spark, sf_dir)
    w = (
        Window.partitionBy("row_i", "col_i")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    )
    return (
        t.select("row_i", "col_i", "doc_id", F.col("val").alias("n_chars"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 1)
        .select("row_i", "col_i", F.col("rnk").cast("long").alias("rnk"), "doc_id", "n_chars")
    )


SQL_TILE_EXEMPLARS = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS}
SELECT row_i, col_i,
       row_number() OVER (PARTITION BY row_i, col_i
                          ORDER BY val DESC, doc_id ASC) AS rnk,
       doc_id, val AS n_chars
FROM c
QUALIFY rnk <= 1
"""


def q_raster_regions(spark: SparkSession, sf_dir: str, _raster: DataFrame | None = None) -> DataFrame:
    """Connected-region (patch) labeling: rook-adjacent occupied tiles
    merged into regions (focal.label_regions = neighbor-explode edges +
    distributed hash-min components), then per-region stats. Oracle:
    recursive-CTE label closure over the same adjacency."""
    from .focal import label_regions

    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    lab = label_regions(raster, queen=False)
    return lab.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("n_docs").cast("long").alias("sum_docs"),
        F.min("row_i").alias("rmin"),
        F.max("row_i").alias("rmax"),
        F.min("col_i").alias("cmin"),
        F.max("col_i").alias("cmax"),
    )


SQL_RASTER_REGIONS = f"""
WITH RECURSIVE {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, count(*) AS n_docs FROM c GROUP BY 1, 2),
n AS (SELECT row_i, col_i, n_docs,
             (row_i + 1073741824) * 2147483648 + (col_i + 1073741824) AS node
      FROM r),
e AS (SELECT a.node AS s, b.node AS d
      FROM n a JOIN n b
        ON abs(a.row_i - b.row_i) + abs(a.col_i - b.col_i) = 1),
reach(node, lbl) AS (
  SELECT node, node FROM n
  UNION
  SELECT e.d, rc.lbl FROM reach rc JOIN e ON e.s = rc.node
),
comp AS (SELECT node, min(lbl) AS region_id FROM reach GROUP BY node)
SELECT comp.region_id, count(*) AS n_tiles,
       CAST(sum(n.n_docs) AS BIGINT) AS sum_docs,
       min(n.row_i) AS rmin, max(n.row_i) AS rmax,
       min(n.col_i) AS cmin, max(n.col_i) AS cmax
FROM n JOIN comp ON n.node = comp.node
GROUP BY 1
"""


def q_moran_i(
    spark: SparkSession,
    sf_dir: str,
    _raster: DataFrame | None = None,
    _spec: GridSpec | None = None,
) -> DataFrame:
    """Global Moran's I (queen contiguity, binary weights) of the per-tile
    doc counts. Integer-scaled deviations (n·x − Σx) keep numerator and
    denominator exact BIGINTs; the statistic is the single final division,
    bit-identical in DuckDB.

    r5: merged-in point-pattern pair statistics (pointpat.pair_stats) —
    Ripley-K pair counts, semivariogram sums/γ̂, and K̂ at radii
    50/100/200 over the doc points (val = n_chars). Engine: bucketed
    9-neighbor candidate join + one global aggregate; twin: full
    quadratic self-join (genuinely independent — no bucketing). All
    counts/sums exact BIGINT; γ̂/K̂ single divisions on exact ints.

    r5b: merged-in nearest-neighbor stats (pointpat.nn_stats) — the
    empirical G function at the same radii plus the exact-BIGINT NN
    distance sums and the 2⁻²⁰-quantized mean NN distance. Engine:
    bucket join + per-point min + 1-row agg; twin: quadratic per-point
    min. Columns prefixed nn_/g_.

    r5b also: bivariate cross-K / cross-variogram (pair_stats with
    ``other``) between the ct0 and ct1 kind populations at r=100/200 —
    Lotwick–Silverman cross pairs, khat normalized by n_a·n_b. Columns
    prefixed x_; twin: quadratic A×B cross join.

    r5b also: the empty-space F function (nn_stats cross mode from the
    FULL grid's tile centers to the points — the CDF of point-to-pattern
    distance, spatstat Fest; F < G ⇒ clustered). Columns prefixed f_;
    twin: quadratic centers × points min over generate_series centers."""
    from .focal import morans_i
    from .pointpat import nn_stats, pair_stats

    if _raster is not None:
        raster = _raster
        if _spec is not None:
            spec = _spec
        else:
            from .bbox import grid_spec_for

            spec = grid_spec_for(docs_with_coords(spark, sf_dir), RES, square=True)
    else:
        raster, spec = _count_raster_spec(spark, sf_dir)
    mi = morans_i(raster, "n_docs")
    pts = docs_with_coords(spark, sf_dir)
    # split_axes (r5b): directional variogram columns pc/sv/gamma_{ew,ns}_<r>
    pp = pair_stats(
        pts, [50.0, 100.0, 200.0], area=3000.0 * 2000.0, split_axes=True
    )
    # same population as pair_stats (val NOT NULL) so the merged row's
    # nn_*/g_* columns describe the same point set as n_pts/pc_*
    nn = nn_stats(pts.where(F.col("val").isNotNull()), [50.0, 100.0, 200.0]).drop(
        "n_pts"
    )
    xp = pair_stats(
        pts.where(F.col("kind") == "ct0"),
        [100.0, 200.0],
        area=3000.0 * 2000.0,
        other=pts.where(F.col("kind") == "ct1"),
    )
    xp = xp.select([F.col(c).alias(f"x_{c}") for c in xp.columns])
    # Knox space-time interaction (r5b): t derived deterministically from
    # doc_id, same val-filtered population as pair_stats; r=100, tau=50
    from .pointpat import knox

    kx = knox(
        pts.where(F.col("val").isNotNull()).withColumn(
            "t", F.pmod(F.col("doc_id") * 13, F.lit(1000)).cast("long")
        ),
        100.0,
        50.0,
    ).drop("n_pts")
    kx = kx.select([F.col(c).alias(f"kx_{c}") for c in kx.columns])
    # quadrat VMR / chi-square CSR test over the FULL grid (r5b)
    from .focal import quadrat_vmr

    qv = quadrat_vmr(raster, "n_docs", spec.nrows * spec.ncols)
    # F function: regular sample locations = ALL tile centers of the padded
    # grid (empty tiles included — that's what makes it the EMPTY-space fn)
    from .pointpat import grid_centers

    ff = nn_stats(
        grid_centers(spark, spec),
        [100.0, 200.0],
        other=pts.where(F.col("val").isNotNull()),
    )
    ff = ff.select([F.col(c).alias(f"f_{c}") for c in ff.columns])
    return (
        mi.crossJoin(pp)
        .crossJoin(nn)
        .crossJoin(xp)
        .crossJoin(ff)
        .crossJoin(kx)
        .crossJoin(qv)
    )


SQL_MORAN_I = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i, CAST(count(*) AS BIGINT) AS x FROM c GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM r),
dv AS (SELECT row_i, col_i, st.n * x - st.s AS dev FROM r, st),
dn AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den_scaled FROM dv),
p AS (
  SELECT CAST(count(*) AS BIGINT) AS w_sum,
         CAST(sum(a.dev * b.dev) AS BIGINT) AS num_scaled
  FROM dv a JOIN dv b
    ON b.row_i BETWEEN a.row_i - 1 AND a.row_i + 1
   AND b.col_i BETWEEN a.col_i - 1 AND a.col_i + 1
   AND NOT (b.row_i = a.row_i AND b.col_i = a.col_i)
),
-- point-pattern pair stats (r5): full quadratic self-join — genuinely
-- independent of the engine's bucketed 9-neighbor candidate plan
pp AS (
  SELECT doc_id, CAST(x AS BIGINT) AS xi, CAST(y AS BIGINT) AS yi,
         CAST(val AS BIGINT) AS vi,
         CAST((doc_id * 13) % 1000 AS BIGINT) AS ti
  FROM d WHERE x IS NOT NULL AND y IS NOT NULL AND val IS NOT NULL
),
pnn AS (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM pp),
ppd AS (
  SELECT a.doc_id,
         (a.xi - b.xi) * (a.xi - b.xi) + (a.yi - b.yi) * (a.yi - b.yi) AS d2,
         (a.vi - b.vi) * (a.vi - b.vi) AS sq,
         CASE WHEN abs(a.xi - b.xi) > abs(a.yi - b.yi) THEN 0
              WHEN abs(a.yi - b.yi) > abs(a.xi - b.xi) THEN 1
              ELSE 2 END AS axc,
         abs(a.ti - b.ti) AS adt
  FROM pp a JOIN pp b ON a.doc_id <> b.doc_id
),
-- quadrat VMR / chi-square CSR (r5b): N = full-grid cell count from the
-- bbox; empty tiles contribute 0 so the occupied sums suffice
qvc AS (
  SELECT CAST(ceil((b.xmax - b.xmin) / 100.0)
            * ceil((b.ymax - b.ymin) / 100.0) AS BIGINT) AS q_cells
  FROM b
),
qvs AS (
  SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS q_sum,
         CAST(coalesce(sum(x * x), 0) AS BIGINT) AS q_sumsq
  FROM r
),
-- Knox space-time interaction (r5b) over the same pair set
kxs AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 THEN 1 END), 0) AS BIGINT) AS s_pairs,
    CAST(coalesce(sum(CASE WHEN adt <= 50 THEN 1 END), 0) AS BIGINT) AS t_pairs,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 AND adt <= 50 THEN 1 END), 0)
         AS BIGINT) AS st_pairs
  FROM ppd
),
ppr AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 THEN 1 END), 0) AS BIGINT) AS pc_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 THEN 1 END), 0) AS BIGINT) AS pc_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 THEN 1 END), 0) AS BIGINT) AS pc_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 AND axc = 0 THEN 1 END), 0) AS BIGINT) AS pc_ew_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 AND axc = 0 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ew_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 AND axc = 0 THEN 1 END), 0) AS BIGINT) AS pc_ew_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 AND axc = 0 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ew_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 AND axc = 0 THEN 1 END), 0) AS BIGINT) AS pc_ew_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 AND axc = 0 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ew_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 AND axc = 1 THEN 1 END), 0) AS BIGINT) AS pc_ns_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 2500 AND axc = 1 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ns_50,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 AND axc = 1 THEN 1 END), 0) AS BIGINT) AS pc_ns_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 AND axc = 1 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ns_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 AND axc = 1 THEN 1 END), 0) AS BIGINT) AS pc_ns_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 AND axc = 1 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_ns_200
  FROM ppd
),
-- nearest-neighbor stats (r5b): per-point min over the SAME quadratic
-- pair set (one join, reused) — still independent of the bucketed plan
pnd AS (SELECT doc_id, min(d2) AS nnd2 FROM ppd GROUP BY doc_id),
-- bivariate cross-K (r5b): quadratic A×B cross join, A=ct0, B=ct1
xa AS (SELECT CAST(x AS BIGINT) AS xi, CAST(y AS BIGINT) AS yi,
              CAST(val AS BIGINT) AS vi
       FROM d WHERE kind = 'ct0' AND x IS NOT NULL AND y IS NOT NULL
         AND val IS NOT NULL),
xb AS (SELECT CAST(x AS BIGINT) AS xi, CAST(y AS BIGINT) AS yi,
              CAST(val AS BIGINT) AS vi
       FROM d WHERE kind = 'ct1' AND x IS NOT NULL AND y IS NOT NULL
         AND val IS NOT NULL),
xn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM xa) AS n_a,
              (SELECT CAST(count(*) AS BIGINT) FROM xb) AS n_b),
xpd AS (
  SELECT (a.xi - b.xi) * (a.xi - b.xi) + (a.yi - b.yi) * (a.yi - b.yi) AS d2,
         (a.vi - b.vi) * (a.vi - b.vi) AS sq
  FROM xa a, xb b
),
xpr AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 THEN 1 END), 0) AS BIGINT) AS pc_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 10000 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_100,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 THEN 1 END), 0) AS BIGINT) AS pc_200,
    CAST(coalesce(sum(CASE WHEN d2 <= 40000 THEN sq ELSE 0 END), 0) AS BIGINT) AS sv_200
  FROM xpd
),
-- empty-space F function (r5b): regular sample centers over the FULL
-- padded grid (generate_series), quadratic centers × points min
gr AS (SELECT unnest(generate_series(0,
         CAST(ceil((b.ymax - b.ymin) / 100.0) AS INT) - 1)) AS row_i FROM b),
gc AS (SELECT unnest(generate_series(0,
         CAST(ceil((b.xmax - b.xmin) / 100.0) AS INT) - 1)) AS col_i FROM b),
ctr AS (SELECT CAST(b.xmin + gc.col_i * 100 + 50 AS BIGINT) AS cx,
               CAST(b.ymin + gr.row_i * 100 + 50 AS BIGINT) AS cy
        FROM gr, gc, b),
fct AS (SELECT CAST(count(*) AS BIGINT) AS f_n FROM ctr),
fnd AS (
  SELECT ctr.cx, ctr.cy,
         min((ctr.cx - pp.xi) * (ctr.cx - pp.xi)
           + (ctr.cy - pp.yi) * (ctr.cy - pp.yi)) AS nnd2
  FROM ctr, pp
  GROUP BY 1, 2
),
fnw AS (SELECT nnd2 FROM fnd WHERE nnd2 <= 40000),
fns AS (
  SELECT
    CAST(count(*) AS BIGINT) AS f_found,
    CAST(coalesce(sum(nnd2), 0) AS BIGINT) AS f_d2_sum,
    CAST(coalesce(sum(CAST(floor(sqrt(CAST(nnd2 AS DOUBLE)) * 1048576.0)
                           AS BIGINT)), 0) AS BIGINT) AS f_q20_sum,
    CAST(coalesce(sum(CASE WHEN nnd2 <= 10000 THEN 1 END), 0) AS BIGINT) AS f_g_100,
    CAST(coalesce(sum(CASE WHEN nnd2 <= 40000 THEN 1 END), 0) AS BIGINT) AS f_g_200
  FROM fnw
),
nnw AS (SELECT nnd2 FROM pnd WHERE nnd2 <= 40000),
nns AS (
  SELECT
    CAST(count(*) AS BIGINT) AS nn_found,
    CAST(coalesce(sum(nnd2), 0) AS BIGINT) AS nn_d2_sum,
    CAST(coalesce(sum(CAST(floor(sqrt(CAST(nnd2 AS DOUBLE)) * 1048576.0)
                           AS BIGINT)), 0) AS BIGINT) AS nn_q20_sum,
    CAST(coalesce(sum(CASE WHEN nnd2 <= 2500 THEN 1 END), 0) AS BIGINT) AS g_50,
    CAST(coalesce(sum(CASE WHEN nnd2 <= 10000 THEN 1 END), 0) AS BIGINT) AS g_100,
    CAST(coalesce(sum(CASE WHEN nnd2 <= 40000 THEN 1 END), 0) AS BIGINT) AS g_200
  FROM nnw
)
SELECT st.n AS n_tiles, p.w_sum, p.num_scaled, dn.den_scaled,
       CAST(st.n * p.num_scaled AS DOUBLE)
         / CAST(p.w_sum * dn.den_scaled AS DOUBLE) AS moran_i,
       pnn.n_pts,
       ppr.pc_50, ppr.sv_50,
       CAST(ppr.sv_50 AS DOUBLE) / CAST(ppr.pc_50 * 2 AS DOUBLE) AS gamma_50,
       CAST(6000000.0 AS DOUBLE) * CAST(ppr.pc_50 AS DOUBLE)
         / CAST(pnn.n_pts * (pnn.n_pts - 1) AS DOUBLE) AS khat_50,
       ppr.pc_100, ppr.sv_100,
       CAST(ppr.sv_100 AS DOUBLE) / CAST(ppr.pc_100 * 2 AS DOUBLE) AS gamma_100,
       CAST(6000000.0 AS DOUBLE) * CAST(ppr.pc_100 AS DOUBLE)
         / CAST(pnn.n_pts * (pnn.n_pts - 1) AS DOUBLE) AS khat_100,
       ppr.pc_200, ppr.sv_200,
       CAST(ppr.sv_200 AS DOUBLE) / CAST(ppr.pc_200 * 2 AS DOUBLE) AS gamma_200,
       CAST(6000000.0 AS DOUBLE) * CAST(ppr.pc_200 AS DOUBLE)
         / CAST(pnn.n_pts * (pnn.n_pts - 1) AS DOUBLE) AS khat_200,
       ppr.pc_ew_50, ppr.sv_ew_50,
       CASE WHEN ppr.pc_ew_50 = 0 THEN NULL
            ELSE CAST(ppr.sv_ew_50 AS DOUBLE)
               / CAST(ppr.pc_ew_50 * 2 AS DOUBLE) END AS gamma_ew_50,
       ppr.pc_ew_100, ppr.sv_ew_100,
       CASE WHEN ppr.pc_ew_100 = 0 THEN NULL
            ELSE CAST(ppr.sv_ew_100 AS DOUBLE)
               / CAST(ppr.pc_ew_100 * 2 AS DOUBLE) END AS gamma_ew_100,
       ppr.pc_ew_200, ppr.sv_ew_200,
       CASE WHEN ppr.pc_ew_200 = 0 THEN NULL
            ELSE CAST(ppr.sv_ew_200 AS DOUBLE)
               / CAST(ppr.pc_ew_200 * 2 AS DOUBLE) END AS gamma_ew_200,
       ppr.pc_ns_50, ppr.sv_ns_50,
       CASE WHEN ppr.pc_ns_50 = 0 THEN NULL
            ELSE CAST(ppr.sv_ns_50 AS DOUBLE)
               / CAST(ppr.pc_ns_50 * 2 AS DOUBLE) END AS gamma_ns_50,
       ppr.pc_ns_100, ppr.sv_ns_100,
       CASE WHEN ppr.pc_ns_100 = 0 THEN NULL
            ELSE CAST(ppr.sv_ns_100 AS DOUBLE)
               / CAST(ppr.pc_ns_100 * 2 AS DOUBLE) END AS gamma_ns_100,
       ppr.pc_ns_200, ppr.sv_ns_200,
       CASE WHEN ppr.pc_ns_200 = 0 THEN NULL
            ELSE CAST(ppr.sv_ns_200 AS DOUBLE)
               / CAST(ppr.pc_ns_200 * 2 AS DOUBLE) END AS gamma_ns_200,
       nns.nn_found, nns.nn_d2_sum, nns.nn_q20_sum,
       CASE WHEN nns.nn_found = 0 THEN NULL
            ELSE (CAST(nns.nn_q20_sum AS DOUBLE) / 1048576.0)
                 / CAST(nns.nn_found AS DOUBLE) END AS mean_nn,
       nns.g_50, nns.g_100, nns.g_200,
       xn.n_a AS x_n_pts, xn.n_b AS x_n_other,
       xpr.pc_100 AS x_pc_100, xpr.sv_100 AS x_sv_100,
       CASE WHEN xpr.pc_100 = 0 THEN NULL
            ELSE CAST(xpr.sv_100 AS DOUBLE)
               / CAST(xpr.pc_100 * 2 AS DOUBLE) END AS x_gamma_100,
       CASE WHEN xn.n_a * xn.n_b = 0 THEN NULL
            ELSE CAST(6000000.0 AS DOUBLE) * CAST(xpr.pc_100 AS DOUBLE)
               / CAST(xn.n_a * xn.n_b AS DOUBLE) END AS x_khat_100,
       xpr.pc_200 AS x_pc_200, xpr.sv_200 AS x_sv_200,
       CASE WHEN xpr.pc_200 = 0 THEN NULL
            ELSE CAST(xpr.sv_200 AS DOUBLE)
               / CAST(xpr.pc_200 * 2 AS DOUBLE) END AS x_gamma_200,
       CASE WHEN xn.n_a * xn.n_b = 0 THEN NULL
            ELSE CAST(6000000.0 AS DOUBLE) * CAST(xpr.pc_200 AS DOUBLE)
               / CAST(xn.n_a * xn.n_b AS DOUBLE) END AS x_khat_200,
       fct.f_n AS f_n_pts, fns.f_found AS f_nn_found,
       fns.f_d2_sum AS f_nn_d2_sum, fns.f_q20_sum AS f_nn_q20_sum,
       CASE WHEN fns.f_found = 0 THEN NULL
            ELSE (CAST(fns.f_q20_sum AS DOUBLE) / 1048576.0)
                 / CAST(fns.f_found AS DOUBLE) END AS f_mean_nn,
       fns.f_g_100 AS f_g_100, fns.f_g_200 AS f_g_200,
       kxs.s_pairs AS kx_s_pairs, kxs.t_pairs AS kx_t_pairs,
       kxs.st_pairs AS kx_st_pairs,
       CASE WHEN pnn.n_pts < 2 THEN NULL
            ELSE CAST(kxs.s_pairs AS DOUBLE) * CAST(kxs.t_pairs AS DOUBLE)
               / CAST(pnn.n_pts * (pnn.n_pts - 1) AS DOUBLE)
       END AS kx_knox_expected,
       CASE WHEN pnn.n_pts < 2 OR kxs.s_pairs * kxs.t_pairs = 0 THEN NULL
            ELSE CAST(kxs.st_pairs AS DOUBLE)
               / (CAST(kxs.s_pairs AS DOUBLE) * CAST(kxs.t_pairs AS DOUBLE)
                  / CAST(pnn.n_pts * (pnn.n_pts - 1) AS DOUBLE))
       END AS kx_knox_ratio,
       qvc.q_cells, qvs.q_sum, qvs.q_sumsq,
       CASE WHEN qvs.q_sum = 0 THEN NULL
            ELSE CAST(qvc.q_cells * qvs.q_sumsq - qvs.q_sum * qvs.q_sum AS DOUBLE)
               / CAST(qvc.q_cells * qvs.q_sum AS DOUBLE) END AS q_vmr,
       CASE WHEN qvs.q_sum = 0 THEN NULL
            ELSE CAST(qvc.q_cells * qvs.q_sumsq - qvs.q_sum * qvs.q_sum AS DOUBLE)
               / CAST(qvs.q_sum AS DOUBLE) END AS q_chi2
FROM st, dn, p, pnn, ppr, nns, xn, xpr, fct, fns, kxs, qvc, qvs
"""


# ---------------------------------------------------------------------------
# as-of join (joins.py)


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on the events stream: every purchase matched to the user's
    most recent view at-or-before it (ties: equal-ts views visible; among
    equal-ts views the highest event_id wins). Engine side = single-shuffle
    union+window merge; oracle = the quadratic LEFT JOIN … QUALIFY top-1
    formulation — genuinely independent algorithms."""
    from .joins import asof_join

    e = read_table(spark, sf_dir, "events")
    lefts = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    rights = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(
        lefts, rights, on=["user_id"], ts_col="ts",
        right_cols=["event_id", "value"], tiebreak="event_id",
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col("asof_event_id").alias("view_event_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")).alias("gap_sec"),
        F.floor(F.col("asof_value") * 100.0).cast("long").alias("view_cents"),
    )


SQL_EVENTS_ASOF = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
m AS (
  SELECT l.event_id, l.user_id, l.ts,
         r.event_id AS view_event_id, r.ts AS rts, r.value,
         row_number() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.event_id DESC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
)
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       view_event_id,
       CAST(floor(epoch(ts)) - floor(epoch(rts)) AS BIGINT) AS gap_sec,
       CAST(floor(value * 100.0) AS BIGINT) AS view_cents
FROM m WHERE rn = 1
"""


def q_events_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: events × 48 overlapping analysis
    windows (1.5 h long, 1 h stride, anchored at the corpus min-ts). Engine
    side = the bucketed equi-join (joins.interval_join, bucket 30 min, each
    interval explodes to ≤4 buckets); oracle = the plain inequality join.
    Integer epoch seconds keep containment decisions engine-identical."""
    from .joins import interval_join

    e = read_table(spark, sf_dir, "events")
    points = e.select(
        F.unix_timestamp("ts").alias("tse"), "event_type", "value", "user_id"
    )
    tmin = e.agg(F.min(F.unix_timestamp("ts")).alias("tmin"))
    intervals = (
        spark.range(48)
        .crossJoin(F.broadcast(tmin))
        .select(
            F.col("id").alias("window_id"),
            (F.col("tmin") + F.col("id") * 3600).alias("istart"),
            (F.col("tmin") + F.col("id") * 3600 + 5400).alias("iend"),
        )
    )
    j = interval_join(points, intervals, "tse", "istart", "iend", bucket=1800.0)
    return j.groupBy("window_id", F.col("istart").alias("start_epoch")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.floor(F.col("value") * 100.0)).cast("long").alias("sum_cents"),
    )


SQL_EVENTS_INTERVALS = """
WITH tm AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS tmin FROM events),
iv AS (SELECT CAST(t.r AS BIGINT) AS window_id,
              tmin + CAST(t.r AS BIGINT) * 3600 AS istart,
              tmin + CAST(t.r AS BIGINT) * 3600 + 5400 AS iend
       FROM tm, range(0, 48) t(r)),
p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS tse, event_type, value, user_id
      FROM events)
SELECT iv.window_id, iv.istart AS start_epoch,
       count(*) AS n_events,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
       CAST(sum(floor(p.value * 100.0)) AS BIGINT) AS sum_cents
FROM iv JOIN p ON p.tse >= iv.istart AND p.tse < iv.iend
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# deterministic sketches + sampling (sketch.py)

_KMV_K = 128

# first-15-hex-chars integer value of an md5 hex string (DuckDB side of
# sketch.kmv_distinct's F.conv): digit-positional fold with exact shifts
_SQL_HEX15 = """(
  SELECT CAST(sum(
           CAST(strpos('0123456789abcdef',
                       substr({h}, CAST(t.r AS INTEGER) + 1, 1)) - 1 AS BIGINT)
           << (4 * (14 - CAST(t.r AS INTEGER)))) AS BIGINT)
  FROM range(0, 15) t(r)
)"""

_SQL_HEX8 = """(
  SELECT CAST(sum(
           CAST(strpos('0123456789abcdef',
                       substr({h}, CAST(t.r AS INTEGER) + 1, 1)) - 1 AS BIGINT)
           << (4 * (7 - CAST(t.r AS INTEGER)))) AS BIGINT)
  FROM range(0, 8) t(r)
)"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch of the corpus token vocabulary, alongside
    the exact count. Deterministic md5 hashing makes the APPROXIMATE
    estimate itself oracle-checkable bit-for-bit (HLL isn't)."""
    from .sketch import kmv_distinct

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens_expr(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    sk = kmv_distinct(toks, F.col("tok"), k=_KMV_K)
    exact = toks.agg(F.countDistinct("tok").cast("long").alias("true_distinct"))
    return sk.crossJoin(exact)


SQL_KMV_DISTINCT = rf"""
WITH toks AS (
  SELECT t.tok
  FROM documents d,
       unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(tok)
  WHERE t.tok <> ''
),
hs AS (SELECT DISTINCT md5(tok) AS h FROM toks),
topk AS (SELECT h FROM hs ORDER BY h LIMIT {_KMV_K}),
kth AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hex FROM topk),
kv AS (SELECT k_used, kth_hex,
              {_SQL_HEX15.format(h="kth_hex")} AS kth_val
       FROM kth)
SELECT k_used, kth_hex, kth_val,
       CASE WHEN k_used < {_KMV_K} THEN CAST(k_used AS DOUBLE)
            ELSE CAST(k_used - 1 AS DOUBLE) * 1152921504606846976.0
                   / CAST(kth_val AS DOUBLE) END AS est_distinct,
       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM toks) AS true_distinct
FROM kv
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25}
_SAMPLE_DEFAULT = 0.1
_SAMPLE_SALT = "mix1"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) downsample — the re-balancing
    step of a training-data mix. Hash-threshold Bernoulli: reproducible
    across runs, engines, and cluster sizes; map-only."""
    from .sketch import hash_sample

    d = read_table(spark, sf_dir, "documents")
    s = hash_sample(
        d, F.col("doc_id"), strata=F.col("lang"),
        rates=_SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT, salt=_SAMPLE_SALT,
    )
    return s.select("doc_id", "lang", "source")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source FROM documents
WHERE CAST({_SQL_HEX8.format(h="md5('mix1' || CAST(doc_id AS VARCHAR))")} AS DOUBLE)
        / 4294967296.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
"""


# ---------------------------------------------------------------------------
# merged driver-contract queries
#
# The driver snapshots at most the FIRST 50 entries of the registry
# (CORRECTNESS_r03 checked exactly registry[:50] of 60). To give every
# operator a hard oracle signal each round, sibling ops that share a table
# and join key are checked through ONE merged oracle row, and ops whose
# oracle was a literal duplicate of another entry (udf-path raster, hex kNN,
# rotation coords, simhash signatures, uncapped minhash) are covered by
# dedicated pytest parity tests instead (test_rasterize.test_expr_udf_paths
# _agree, test_knn, test_permutate.test_rotation_values_vs_numpy,
# test_text.test_simhash_md5_oracle / test_minhash_lsh_finds_near_dups).


def q_kde(
    spark: SparkSession,
    sf_dir: str,
    _raster: DataFrame | None = None,
    _spec: GridSpec | None = None,
) -> DataFrame:
    """Quartic (biweight) kernel density surface at tile centers
    (pointpat.kde_raster, h=150 on the res-100 grid), restricted to the
    occupied tiles so the row set matches the other tile-keyed queries
    (h = 150 ≥ res·√2/2 guarantees every occupied tile has a value).
    All-BIGINT doubled-coordinate kernel ⇒ kde_w / kde_wv exact; kde_mean
    is the single division Σw / 16h⁴. Twin: occupied-tiles × points cross
    join — genuinely independent of the engine's sequence-explode fan-out.
    Composed callers thread the already-computed GridSpec via ``_spec``
    (grid_spec_for is an eager bbox scan — don't pay it twice)."""
    from .bbox import grid_spec_for
    from .pointpat import kde_raster

    d = docs_with_coords(spark, sf_dir)
    spec = _spec if _spec is not None else grid_spec_for(d, RES, square=True)
    kde = kde_raster(
        d,
        int(RES),
        150,
        int(spec.xmin),
        int(spec.ymin),
        value_col="val",
        nrows=spec.nrows,
        ncols=spec.ncols,
    )
    raster = _raster if _raster is not None else _count_raster(spark, sf_dir)
    return raster.select("row_i", "col_i").join(kde, ["row_i", "col_i"])


SQL_KDE = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
r AS (SELECT row_i, col_i FROM c GROUP BY 1, 2),
kc AS (
  SELECT r.row_i, r.col_i, CAST(d.val AS BIGINT) AS v,
         CAST(2 * d.x - (2 * b.xmin + (2 * r.col_i + 1) * 100.0) AS BIGINT) AS dx2,
         CAST(2 * d.y - (2 * b.ymin + (2 * r.row_i + 1) * 100.0) AS BIGINT) AS dy2
  FROM r, d, b
  WHERE d.val IS NOT NULL  -- engine drops val-NULL points entirely
)
SELECT row_i, col_i,
       CAST(count(*) AS BIGINT) AS kde_n,
       CAST(sum((90000 - (dx2*dx2 + dy2*dy2))
              * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) AS kde_w,
       CAST(CAST(sum((90000 - (dx2*dx2 + dy2*dy2))
              * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) AS DOUBLE)
         / 8100000000.0 AS kde_mean,
       CAST(sum(v * (90000 - (dx2*dx2 + dy2*dy2))
              * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) AS kde_wv,
       CASE WHEN CAST(sum((90000 - (dx2*dx2 + dy2*dy2))
                        * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) = 0
            THEN NULL
            ELSE CAST(CAST(sum(v * (90000 - (dx2*dx2 + dy2*dy2))
                             * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) AS DOUBLE)
               / CAST(CAST(sum((90000 - (dx2*dx2 + dy2*dy2))
                             * (90000 - (dx2*dx2 + dy2*dy2))) AS BIGINT) AS DOUBLE)
       END AS kde_smooth
FROM kc
WHERE dx2*dx2 + dy2*dy2 <= 90000
GROUP BY 1, 2
"""


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal statistics, both kernels in one oracle row: uniform 3×3 queen
    (mean_*) and integer binomial 1-2-1⊗1-2-1 smoothing (gauss_*), joined on
    the tile key. COMPOSED from the single-kernel queries (one source of
    truth for each formula — the SQL twin composes the same way).

    r5: the row also carries the grid-center viewshed (q_viewshed):
    ``los_n`` Chebyshev distance and the bit-exact ``visible`` line-of-sight
    classification per tile.

    r5b: plus the quartic kernel density surface (q_kde): kde_n/kde_w/
    kde_mean/kde_wv/kde_smooth per tile, exact-BIGINT doubled-coordinate
    kernel — the GridSpec is computed once here and threaded down."""
    raster, spec = _count_raster_spec(spark, sf_dir)
    mean = q_focal_mean(spark, sf_dir, _raster=raster).select(
        "row_i",
        "col_i",
        "n_docs",
        F.col("focal_sum").alias("mean_sum"),
        F.col("focal_n").alias("mean_n"),
        F.col("focal_mean").alias("mean_avg"),
    )
    gauss = q_focal_gauss(spark, sf_dir, _raster=raster).select(
        "row_i",
        "col_i",
        F.col("focal_sum").alias("gauss_sum"),
        F.col("focal_n").alias("gauss_n"),
        F.col("focal_mean").alias("gauss_avg"),
    )
    vs = q_viewshed(spark, sf_dir, _raster=raster).select(
        "row_i", "col_i", "los_n", "visible"
    )
    kd = q_kde(spark, sf_dir, _raster=raster, _spec=spec)
    return (
        mean.join(gauss, ["row_i", "col_i"])
        .join(vs, ["row_i", "col_i"])
        .join(kd, ["row_i", "col_i"])
    )


SQL_FOCAL_STATS = f"""
SELECT fm.row_i, fm.col_i, fm.n_docs,
       fm.focal_sum AS mean_sum, fm.focal_n AS mean_n,
       fm.focal_mean AS mean_avg,
       fg.focal_sum AS gauss_sum, fg.focal_n AS gauss_n,
       fg.focal_mean AS gauss_avg,
       vs.los_n, vs.visible,
       kd.kde_n, kd.kde_w, kd.kde_mean, kd.kde_wv, kd.kde_smooth
FROM ({SQL_FOCAL_MEAN}) fm JOIN ({SQL_FOCAL_GAUSS}) fg
  ON fm.row_i = fg.row_i AND fm.col_i = fg.col_i
JOIN ({SQL_VIEWSHED}) vs
  ON vs.row_i = fm.row_i AND vs.col_i = fm.col_i
JOIN ({SQL_KDE}) kd
  ON kd.row_i = fm.row_i AND kd.col_i = fm.col_i
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics + quality scoring in one oracle row (same table,
    same doc_id key) — COMPOSED from the single-op queries so each formula
    has one source of truth, mirrored by the composed SQL twin. NB the two
    ops keep their own token-count semantics: token_count() maps
    whitespace-only text to 0 tokens; the quality ratios use the raw split
    length (1 for empty) as their denominator guard."""
    t = q_token_stats(spark, sf_dir)
    q = q_quality_score(spark, sf_dir).select(
        "doc_id",
        "alpha_ratio",
        "distinct_token_ratio",
        "mean_word_len",
        "quality_score",
    )
    return t.join(q, "doc_id")


SQL_TEXT_QUALITY = f"""
SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens, t.len_chars,
       q.alpha_ratio, q.distinct_token_ratio, q.mean_word_len,
       q.quality_score
FROM ({SQL_TOKEN_STATS}) t JOIN ({SQL_QUALITY_SCORE}) q
  ON t.doc_id = q.doc_id
"""


def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language marker counts + full language-ID argmax in one oracle row
    (same table, same key) — COMPOSED from the single-op queries;
    lang_id's marker table is independent of the two marker lists
    spot-checked by the markers query."""
    return q_lang_markers(spark, sf_dir).join(
        q_lang_id(spark, sf_dir), "doc_id"
    )


SQL_LANG_PROFILE = f"""
WITH lm AS ({SQL_LANG_MARKERS}), li AS ({SQL_LANG_ID})
SELECT lm.doc_id, lm.en_hits, lm.de_hits, li.lang_guess
FROM lm JOIN li ON lm.doc_id = li.doc_id
"""


def q_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming-window family in one oracle row: tumbling (1h),
    sliding (1h/30m) and session (10m gap) aggregates, tagged by win_kind —
    COMPOSED from the single-window queries (each the identical expression
    the streaming path uses; fixed-window ends are start + 3600 by
    construction)."""

    def tag(df: DataFrame, kind: str) -> DataFrame:
        return df.select(
            F.lit(kind).alias("win_kind"),
            F.col("window_start_epoch").alias("win_start_epoch"),
            (F.col("window_start_epoch") + 3600).alias("win_end_epoch"),
            "event_type",
            "n_events",
            "sum_cents",
        )

    sess = q_events_sessions(spark, sf_dir).select(
        F.lit("session").alias("win_kind"),
        F.col("session_start_epoch").alias("win_start_epoch"),
        F.col("session_end_epoch").alias("win_end_epoch"),
        "event_type",
        "n_events",
        "sum_cents",
    )
    return (
        tag(q_events_window(spark, sf_dir), "tumbling")
        .unionByName(tag(q_events_sliding(spark, sf_dir), "sliding"))
        .unionByName(sess)
    )


SQL_EVENTS_WINDOWS = f"""
WITH tw AS ({SQL_EVENTS_WINDOW}), sw AS ({SQL_EVENTS_SLIDING}), ss AS ({SQL_EVENTS_SESSIONS})
SELECT 'tumbling' AS win_kind, window_start_epoch AS win_start_epoch,
       window_start_epoch + 3600 AS win_end_epoch, event_type, n_events, sum_cents
FROM tw
UNION ALL
SELECT 'sliding', window_start_epoch, window_start_epoch + 3600,
       event_type, n_events, sum_cents
FROM sw
UNION ALL
SELECT 'session', session_start_epoch, session_end_epoch,
       event_type, n_events, sum_cents
FROM ss
"""


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary: padded bbox + doc count (§2.2 bbox semantics)
    alongside the KMV distinct-vocabulary sketch vs the exact count — two
    1-row aggregates cross-joined."""
    return q_bbox_pad(spark, sf_dir).crossJoin(q_kmv_distinct(spark, sf_dir))


SQL_CORPUS_SUMMARY = f"""
SELECT * FROM ({SQL_BBOX_PAD}) b2, ({SQL_KMV_DISTINCT}) k2
"""


def q_raster_empty_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference all-zero-pixel semantics (R/main.R:153-176): docs with
    doc_id % 7 == 0 get EMPTY `values` arrays, so some occupied tiles have
    no sparse triplet at all — keep_empty_feature_tiles=True must still emit
    them (feature NULL, pixelval 0.0, num_cell intact)."""
    from .bbox import grid_spec_for

    vals_t = "array<struct<feature:string,value:double>>"
    d = docs_with_coords(spark, sf_dir).withColumn(
        "values",
        F.when(F.col("doc_id") % 7 == 0, F.array().cast(vals_t)).otherwise(
            F.array(
                F.struct(F.lit("n_chars").alias("feature"), F.col("val").alias("value"))
            )
        ),
    )
    spec = grid_spec_for(d, RES, square=True)
    t = R.rasterize_gene_expression(
        d, RES, fun="mean", spec=spec, keep_empty_feature_tiles=True
    )
    row, col = X.unpack_rowcol("cell_id")
    return t.select(
        row.cast("long").alias("row_i"),
        col.cast("long").alias("col_i"),
        "feature",
        F.col("pixelval").alias("mean_val"),
        F.col("num_cell").cast("long").alias("num_cell"),
    )


SQL_RASTER_EMPTY_TILES = f"""
WITH {_SQL_DOCS}, {_SQL_BBOX}, {_SQL_SQ_CELLS},
n AS (SELECT row_i, col_i, count(*) AS num_cell FROM c GROUP BY 1, 2),
s AS (SELECT row_i, col_i, sum(val) AS sv FROM c WHERE doc_id % 7 <> 0 GROUP BY 1, 2)
SELECT n.row_i, n.col_i,
       CASE WHEN s.row_i IS NOT NULL THEN 'n_chars' END AS feature,
       coalesce(s.sv, 0.0) / CAST(n.num_cell AS DOUBLE) AS mean_val,
       n.num_cell
FROM n LEFT JOIN s ON s.row_i = n.row_i AND s.col_i = n.col_i
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-contract registry — EXACTLY 50 entries (the driver snapshots
    at most the first 50), ordered so ops that have never had a driver-green
    row come first. Ops folded out of the registry keep dedicated pytest
    parity coverage (see the merged-queries section above)."""
    return {
        # --- never driver-checked before round 4 (r03 capped at 50/60) ----
        "simhash_pairs": q_simhash_pairs,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "dedup_clusters": q_dedup_clusters,
        "raster_algebra": q_raster_algebra,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_near_dup": q_cosine_near_dup,
        # --- new/merged this round ----------------------------------------
        "text_quality": q_text_quality,
        "lang_profile": q_lang_profile,
        "raster_empty_tiles": q_raster_empty_tiles,
        "focal_stats": q_focal_stats,
        "events_windows": q_events_windows,
        "corpus_summary": q_corpus_summary,
        # --- driver-green in CORRECTNESS_r03 ------------------------------
        "raster_square_kind_sum": q_raster_square_kind_sum,
        "raster_square_kind_mean": q_raster_square_kind_mean,
        "raster_square_value_mean": q_raster_square_value_mean,
        "raster_square_roster": q_raster_square_roster,
        "raster_hex_kind_sum": q_raster_hex_kind_sum,
        "rotation_raster": q_rotation_raster,
        "knn_square": q_knn_square,
        "raster_matrix": q_raster_matrix,
        "relative_enrichment": q_relative_enrichment,
        "multires_tile_counts": q_multires_tile_counts,
        "tile_pyramid": q_tile_pyramid,
        "regrid_sum": q_regrid_sum,
        "raster_assay": q_raster_assay,
        "span_roundtrip": q_span_roundtrip,
        "tile_wkt": q_tile_wkt,
        "polygon_filter": q_polygon_filter,
        "raster_restricted": q_raster_restricted,
        "spatial_join": q_spatial_join,
        "zonal_stats": q_zonal_stats,
        "moran_i": q_moran_i,
        "gi_star": q_gi_star,
        "raster_regions": q_raster_regions,
        "tile_exemplars": q_tile_exemplars,
        "tile_morton": q_tile_morton,
        "events_asof": q_events_asof,
        "events_intervals": q_events_intervals,
        "stratified_sample": q_stratified_sample,
        "cube_counts": q_cube_counts,
        "token_quantiles": q_token_quantiles,
        "stateful_totals": q_stateful_totals,
        "dedup_exact": q_dedup_exact,
        "incremental_new": q_incremental_new,
        "vocab": q_vocab,
        "bigram_counts": q_bigram_counts,
        "fingerprint": q_fingerprint,
        "ann_topk": q_ann_topk,
        "minhash_pairs_capped": q_minhash_pairs_capped,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "lsh_ann": SQL_LSH_ANN,
        "ivf_ann": SQL_IVF_ANN,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "raster_algebra": SQL_RASTER_ALGEBRA,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "cosine_near_dup": SQL_COSINE_NEAR_DUP,
        "text_quality": SQL_TEXT_QUALITY,
        "lang_profile": SQL_LANG_PROFILE,
        "raster_empty_tiles": SQL_RASTER_EMPTY_TILES,
        "focal_stats": SQL_FOCAL_STATS,
        "events_windows": SQL_EVENTS_WINDOWS,
        "corpus_summary": SQL_CORPUS_SUMMARY,
        "raster_square_kind_sum": SQL_RASTER_SQUARE_KIND_SUM,
        "raster_square_kind_mean": SQL_RASTER_SQUARE_KIND_MEAN,
        "raster_square_value_mean": SQL_RASTER_SQUARE_VALUE_MEAN,
        "raster_square_roster": SQL_RASTER_SQUARE_ROSTER,
        "raster_hex_kind_sum": SQL_RASTER_HEX_KIND_SUM,
        "rotation_raster": SQL_ROTATION_RASTER,
        "knn_square": SQL_KNN_SQUARE,
        "raster_matrix": SQL_RASTER_MATRIX,
        "relative_enrichment": SQL_RELATIVE_ENRICHMENT,
        "multires_tile_counts": SQL_MULTIRES_TILE_COUNTS,
        "tile_pyramid": SQL_TILE_PYRAMID,
        "regrid_sum": SQL_REGRID_SUM,
        "raster_assay": SQL_RASTER_ASSAY,
        "span_roundtrip": SQL_SPAN_ROUNDTRIP,
        "tile_wkt": SQL_TILE_WKT,
        "polygon_filter": SQL_POLYGON_FILTER,
        "raster_restricted": SQL_RASTER_RESTRICTED,
        "spatial_join": SQL_SPATIAL_JOIN,
        "zonal_stats": SQL_ZONAL_STATS,
        "moran_i": SQL_MORAN_I,
        "gi_star": SQL_GI_STAR,
        "raster_regions": SQL_RASTER_REGIONS,
        "tile_exemplars": SQL_TILE_EXEMPLARS,
        "tile_morton": SQL_TILE_MORTON,
        "events_asof": SQL_EVENTS_ASOF,
        "events_intervals": SQL_EVENTS_INTERVALS,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "cube_counts": SQL_CUBE_COUNTS,
        "token_quantiles": SQL_TOKEN_QUANTILES,
        "stateful_totals": SQL_STATEFUL_TOTALS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "incremental_new": SQL_INCREMENTAL_NEW,
        "vocab": SQL_VOCAB,
        "bigram_counts": SQL_BIGRAM_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "ann_topk": SQL_ANN_TOPK,
        "minhash_pairs_capped": SQL_MINHASH_PAIRS_CAPPED,
    }
