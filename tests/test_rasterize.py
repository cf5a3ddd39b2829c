"""Rasterization tests: structural testthat ports (reference
tests/testthat/test-main.R:32-103) + value parity against an independent
pandas oracle (written here from the semantics, not by calling grid.py's
encoder internals for the square path)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from seraster_spark import fixtures, rasterize
from seraster_spark.bbox import compute_bbox, grid_spec_for
from seraster_spark.grid import GridSpec

RES = 100.0


# ---------------------------------------------------------------------------
# independent pandas oracle (square path)


def oracle_spec(pdf: pd.DataFrame, res: float) -> GridSpec:
    import math

    xmin = math.floor(pdf.x.min() - res / 2)
    ymin = math.floor(pdf.y.min() - res / 2)
    xmax = math.ceil(pdf.x.max() + res / 2)
    ymax = math.ceil(pdf.y.max() + res / 2)
    return GridSpec(xmin, ymin, xmax, ymax, res, square=True)


def oracle_rowcol(pdf: pd.DataFrame, spec: GridSpec):
    dx = pdf.x.to_numpy() - spec.xmin
    dy = pdf.y.to_numpy() - spec.ymin
    col = np.floor(dx / spec.resolution).astype(np.int64)
    row = np.floor(dy / spec.resolution).astype(np.int64)
    col = np.where((dx == col * spec.resolution) & (col > 0), col - 1, col)
    row = np.where((dy == row * spec.resolution) & (row > 0), row - 1, row)
    return row, col


def oracle_cell_type(pdf: pd.DataFrame, spec: GridSpec, fun: str) -> pd.DataFrame:
    row, col = oracle_rowcol(pdf, spec)
    d = pdf[["doc_id", "kind"]].copy()
    d["row"], d["col"] = row, col
    num = d.groupby(["row", "col"]).size().rename("num_cell")
    cnt = d.groupby(["row", "col", "kind"]).size().rename("cnt").reset_index()
    cnt = cnt.merge(num.reset_index(), on=["row", "col"])
    cnt["pixelval"] = cnt["cnt"] if fun == "sum" else cnt["cnt"] / cnt["num_cell"]
    return cnt


def oracle_gene_expression(pdf: pd.DataFrame, spec: GridSpec, fun: str) -> pd.DataFrame:
    row, col = oracle_rowcol(pdf, spec)
    recs = []
    for i, vals in enumerate(pdf["values"]):
        for kv in vals:
            recs.append((row[i], col[i], kv["feature"], kv["value"]))
    t = pd.DataFrame(recs, columns=["row", "col", "feature", "value"])
    num = (
        pd.DataFrame({"row": row, "col": col})
        .groupby(["row", "col"])
        .size()
        .rename("num_cell")
        .reset_index()
    )
    s = t.groupby(["row", "col", "feature"])["value"].sum().rename("sum").reset_index()
    s = s.merge(num, on=["row", "col"])
    s["pixelval"] = s["sum"] if fun == "sum" else s["sum"] / s["num_cell"]
    return s


def spark_rowcol_frame(tiles_pdf: pd.DataFrame) -> pd.DataFrame:
    cid = tiles_pdf["cell_id"].to_numpy(np.int64)
    tiles_pdf = tiles_pdf.copy()
    tiles_pdf["row"] = ((cid >> 28) & ((1 << 28) - 1)) - (1 << 27)
    tiles_pdf["col"] = (cid & ((1 << 28) - 1)) - (1 << 27)
    return tiles_pdf


# ---------------------------------------------------------------------------
# structural ports of the reference testthat file


def test_structural_pixels_leq_docs(spark, docs):
    """#tiles <= #docs (test-main.R:46; empty tiles dropped, R/main.R:179)."""
    ct = rasterize.rasterize_cell_type(docs, RES, fun="sum")
    n_tiles = ct.select("cell_id").distinct().count()
    assert 0 < n_tiles <= docs.count()


def test_structural_features_preserved(spark, docs):
    """All input features appear in the output (test-main.R:40-44)."""
    ge = rasterize.rasterize_gene_expression(docs, RES, fun="mean")
    out_feats = {r[0] for r in ge.select("feature").distinct().collect()}
    in_feats = {
        r[0]
        for r in docs.select(F.explode("values.feature").alias("f")).distinct().collect()
    }
    assert out_feats == in_feats


def test_structural_distinct_kinds(spark, docs):
    """Cell-type raster has one value-row per (tile, present kind); the
    distinct kinds of the output == distinct kinds of the input
    (test-main.R:70-81)."""
    ct = rasterize.rasterize_cell_type(docs, RES, fun="sum")
    out_kinds = {r[0] for r in ct.select("kind").distinct().collect()}
    in_kinds = {r[0] for r in docs.select("kind").distinct().collect()}
    assert out_kinds == in_kinds


def test_structural_pos_columns(spark, docs):
    """Output carries centroid x,y per tile, consistent across features
    (test-main.R:37-39,45)."""
    ge = rasterize.rasterize_gene_expression(docs, RES, fun="mean")
    per_tile = ge.groupBy("cell_id").agg(
        F.countDistinct("cx").alias("nx"), F.countDistinct("cy").alias("ny")
    )
    bad = per_tile.filter((F.col("nx") != 1) | (F.col("ny") != 1)).count()
    assert bad == 0


def test_rasterize_matrix_structure(spark, docs):
    """Structural port of test-main.R:32-47 for the rasterizeMatrix facade:
    named triple, equal pixel sets across the three outputs, features
    preserved, pos has x/y, #pixels <= #cells."""
    data = docs.select("doc_id", F.explode("values").alias("_kv")).select(
        "doc_id", F.col("_kv.feature").alias("feature"), F.col("_kv.value").alias("value")
    )
    pos = docs.select("doc_id", "x", "y")
    out = rasterize.rasterize_matrix(data, pos, RES, fun="mean")
    assert set(out.__dataclass_fields__) == {"data_rast", "pos_rast", "meta_rast"}
    pix_meta = {r[0] for r in out.meta_rast.select("pixel_name").collect()}
    pix_pos = {r[0] for r in out.pos_rast.select("pixel_name").collect()}
    pix_data = {r[0] for r in out.data_rast.select("pixel_name").distinct().collect()}
    assert pix_meta == pix_pos
    assert pix_data <= pix_meta  # empty-feature tiles live in meta/pos only
    in_feats = {r[0] for r in data.select("feature").distinct().collect()}
    out_feats = {r[0] for r in out.data_rast.select("feature").distinct().collect()}
    assert out_feats == in_feats
    assert {"x", "y"} <= set(out.pos_rast.columns)
    assert 0 < len(pix_meta) <= pos.count()
    # meta carries roster/type/resolution/geometry (R/main.R:152-189)
    assert {"num_cell", "cellID_list", "type", "resolution", "geometry_wkt"} <= set(
        out.meta_rast.columns
    )


def test_rasterize_matrix_empty_feature_tiles_kept_in_meta(spark):
    """A tile whose only doc has NO feature triplets must still appear in
    meta_rast/pos_rast (reference keeps an all-zero pixel with num_cell,
    R/main.R:153-176) even though sparse data_rast has no row for it."""
    pos = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", 910.0, 910.0)], "doc_id string, x double, y double"
    )
    data = spark.createDataFrame(
        [("a", "f1", 2.0)], "doc_id string, feature string, value double"
    )
    out = rasterize.rasterize_matrix(data, pos, RES, fun="sum")
    assert out.meta_rast.count() == 2
    assert out.pos_rast.count() == 2
    assert out.data_rast.count() == 1


def test_assay_filter_keeps_common_grid(spark, docs):
    """Regression: the default grid spec must come from the FULL docs before
    the assay filter, so assays with different extents share one grid
    (common-bbox invariant, R/main.R:294-308) — cross-assay tile joins
    would silently misalign otherwise."""
    # 777 is deliberately NOT a multiple of RES: under the old bug (filter
    # before spec) the right assay's grid origin lands at floor(min-50) ≈ 727
    # and its centroid lattice shifts by 77 mod 100 relative to the left's
    multi = docs.withColumn(
        "assay",
        F.when(F.col("x") < 777.0, "left_part").otherwise("right_part"),
    )
    spec_full = grid_spec_for(multi, RES, square=True)
    a = rasterize.rasterize_gene_expression(multi, RES, assay_col="assay", assay_name="left_part")
    b = rasterize.rasterize_gene_expression(multi, RES, assay_col="assay", assay_name="right_part")
    expected_residue = (spec_full.xmin + RES / 2.0) % RES
    for df in (a, b):
        residues = {
            round(float(r["cx"]) % RES, 6) % RES
            for r in df.select("cx").distinct().collect()
        }
        assert residues == {round(expected_residue, 6) % RES}, residues


def test_assay_validation(spark, docs):
    """assay_name validated against available assays; default = first
    (R/main.R:315-321)."""
    multi = docs.withColumn(
        "assay", F.when(F.col("doc_id").substr(-1, 1) < "5", "counts").otherwise("lognorm")
    )
    with pytest.raises(ValueError, match="does not exist"):
        rasterize.rasterize_gene_expression(multi, RES, assay_col="assay", assay_name="nope")
    got = rasterize.rasterize_gene_expression(
        multi, RES, assay_col="assay", assay_name="counts"
    )
    # default = first available (lexicographic) = 'counts' → same result
    dflt = rasterize.rasterize_gene_expression(multi, RES, assay_col="assay")
    assert got.count() == dflt.count() > 0
    with pytest.raises(ValueError, match="assay_col"):
        rasterize.rasterize_gene_expression(docs, RES, assay_name="counts")


def test_rollup_tiles_pyramid(spark, docs):
    """Rollup conserves mass at every level; parent counts equal direct
    floor-div grouping; two stacked rollups = one factor-4 rollup; hex
    grids are rejected."""
    spec = grid_spec_for(docs, RES, square=True)
    base = rasterize.assign_tiles(docs, spec).groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("double").alias("pixelval")
    )
    total = docs.count()
    l1, spec1 = rasterize.rollup_tiles(base, spec, factor=2)
    assert spec1.resolution == 2 * RES and spec1.level == spec.level + 1
    assert l1.agg(F.sum("pixelval")).collect()[0][0] == total
    l2, spec2 = rasterize.rollup_tiles(l1.select("cell_id", "pixelval"), spec1, factor=2)
    direct4, spec4 = rasterize.rollup_tiles(base, spec, factor=4)
    # level tags differ (level 2 vs 1) but (row,col,value) must agree
    from seraster_spark import expressions as X

    row, col = X.unpack_rowcol("cell_id")
    key = lambda df: {  # noqa: E731
        (r["r"], r["c"]): r["pixelval"]
        for r in df.select(row.alias("r"), col.alias("c"), "pixelval").collect()
    }
    assert key(l2) == key(direct4)
    assert l2.count() < l1.count() < base.count()
    hex_spec = grid_spec_for(docs, RES, square=False)
    with pytest.raises(ValueError, match="square"):
        rasterize.rollup_tiles(base, hex_spec)


def test_merfish_scale_anchor(spark):
    """6,509 docs at res 50 must land in the reference's non-empty-tile
    regime (vignette:135 -> 1,301 tiles for the real data; synthetic uniform
    cloud gives a same-order count bounded by the grid size)."""
    d = fixtures.documents_df(spark, n=6509, seed=42, skew=False)
    ct = rasterize.rasterize_cell_type(d, 50.0, fun="sum")
    n_tiles = ct.select("cell_id").distinct().count()
    assert 1000 <= n_tiles <= 6509


# ---------------------------------------------------------------------------
# value parity vs the pandas oracle


@pytest.mark.parametrize("fun", ["sum", "mean"])
def test_cell_type_matches_oracle(spark, docs, docs_pdf, fun):
    spec = oracle_spec(docs_pdf, RES)
    got = rasterize.rasterize_cell_type(docs, RES, fun=fun, spec=spec).toPandas()
    got = spark_rowcol_frame(got)
    exp = oracle_cell_type(docs_pdf, spec, fun)
    g = got.set_index(["row", "col", "kind"]).sort_index()
    e = exp.set_index(["row", "col", "kind"]).sort_index()
    assert len(g) == len(e)
    assert (g.index == e.index).all()
    np.testing.assert_allclose(
        g["pixelval"].to_numpy(), e["pixelval"].to_numpy(), rtol=0, atol=1e-12
    )
    np.testing.assert_array_equal(g["num_cell"].to_numpy(), e["num_cell"].to_numpy())


@pytest.mark.parametrize("fun", ["sum", "mean"])
def test_gene_expression_matches_oracle(spark, docs, docs_pdf, fun):
    spec = oracle_spec(docs_pdf, RES)
    got = rasterize.rasterize_gene_expression(docs, RES, fun=fun, spec=spec).toPandas()
    got = spark_rowcol_frame(got)
    exp = oracle_gene_expression(docs_pdf, spec, fun)
    g = got.set_index(["row", "col", "feature"]).sort_index()
    e = exp.set_index(["row", "col", "feature"]).sort_index()
    assert len(g) == len(e)
    assert (g.index == e.index).all()
    np.testing.assert_allclose(
        g["pixelval"].to_numpy(), e["pixelval"].to_numpy(), rtol=1e-12, atol=1e-9
    )


def test_mean_is_not_avg(spark, docs, docs_pdf):
    """mean divides by num_cell (docs in tile incl. structural zeros), not by
    the count of present triplets (R/main.R:146-150; SURVEY §7.5.2)."""
    spec = oracle_spec(docs_pdf, RES)
    ge = rasterize.rasterize_gene_expression(docs, RES, fun="mean", spec=spec)
    ge_sum = rasterize.rasterize_gene_expression(docs, RES, fun="sum", spec=spec)
    j = (
        ge.select("cell_id", "feature", F.col("pixelval").alias("m"), "num_cell")
        .join(
            ge_sum.select("cell_id", "feature", F.col("pixelval").alias("s")),
            ["cell_id", "feature"],
        )
    )
    bad = j.filter(F.abs(F.col("m") - F.col("s") / F.col("num_cell")) > 1e-12).count()
    assert bad == 0


def test_roster_sorted_and_consistent(spark, docs):
    meta = rasterize.rasterize_cell_type(docs, RES, fun="sum", collect_roster=True)
    pdf = meta.select("cell_id", "num_cell", "cellID_list").distinct().toPandas()
    for _, r in pdf.iterrows():
        assert len(r["cellID_list"]) == r["num_cell"]
        assert list(r["cellID_list"]) == sorted(r["cellID_list"])
    # sum(num_cell) over tiles == total docs
    assert pdf["num_cell"].sum() == docs.count()


def test_salted_equals_unsalted(spark, docs):
    """Salted two-phase roster aggregation is semantically identical
    (SURVEY §4.3.1); fixture has a hot tile with ~50% of docs."""
    plain = rasterize.rasterize_cell_type(
        docs, RES, fun="sum", collect_roster=True, salt_buckets=0
    ).select("cell_id", "kind", "pixelval", "num_cell", "cellID_list")
    salted = rasterize.rasterize_cell_type(
        docs, RES, fun="sum", collect_roster=True, salt_buckets=8
    ).select("cell_id", "kind", "pixelval", "num_cell", "cellID_list")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # prove the skew fixture is actually skewed
    top = (
        plain.select("cell_id", "num_cell")
        .distinct()
        .orderBy(F.desc("num_cell"))
        .first()
    )
    assert top["num_cell"] >= docs.count() * 0.4


def test_hex_tiles_structural(spark, docs):
    ct = rasterize.rasterize_cell_type(docs, RES, square=False, fun="sum")
    assert ct.filter(F.col("type") != "hexagon").count() == 0
    n_tiles = ct.select("cell_id").distinct().count()
    assert 0 < n_tiles <= docs.count()
    # num_cell sums to total docs
    total = (
        ct.select("cell_id", "num_cell").distinct().agg(F.sum("num_cell")).collect()[0][0]
    )
    assert total == docs.count()


def test_relative_enrichment_values(spark, docs, docs_pdf):
    spec = oracle_spec(docs_pdf, RES)
    ct = rasterize.rasterize_cell_type(docs, RES, fun="sum", spec=spec)
    re = rasterize.relative_enrichment(ct).toPandas()
    exp = oracle_cell_type(docs_pdf, spec, "sum")
    grand = exp["cnt"].sum()
    ct_tot = exp.groupby("kind")["cnt"].sum()
    px_tot = exp.groupby(["row", "col"])["cnt"].sum()
    got = spark_rowcol_frame(re).set_index(["row", "col", "kind"]).sort_index()
    for (row, col, kind), r in got.iterrows():
        expected = (
            exp.set_index(["row", "col", "kind"]).loc[(row, col, kind), "cnt"]
            / ((ct_tot[kind] / grand) * px_tot[(row, col)])
        )
        assert r["re"] == pytest.approx(expected, rel=1e-12)
        assert r["re_bin"] == (1 if expected >= 1 else 0)


def test_multiresolution_sweep(spark, docs):
    """res in {50,100,200}, square+hex — level tag keeps ids disjoint
    (vignette:199-219)."""
    frames = []
    for lvl, res in enumerate([50.0, 100.0, 200.0]):
        for square in (True, False):
            spec = grid_spec_for(docs, res, square=square, level=lvl)
            frames.append(
                rasterize.rasterize_cell_type(docs, res, spec=spec, fun="sum")
                .select("cell_id", "kind", "pixelval", "resolution", "type")
            )
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    pdf = allf.toPandas()
    # ids never collide across (res, mode)
    key = pdf.groupby("cell_id")[["resolution", "type"]].nunique()
    assert (key["resolution"] == 1).all() and (key["type"] == 1).all()
    # finer grids give >= as many tiles
    sq = pdf[pdf["type"] == "square"]
    counts = sq.groupby("resolution")["cell_id"].nunique()
    assert counts[50.0] >= counts[100.0] >= counts[200.0]


def test_rollup_rejects_level_overflow(spark):
    """A parent level beyond the 6-bit packed-id space must fail loudly —
    clamping would alias two pyramid levels into one id space."""
    from pyspark.sql import functions as F

    spec63 = GridSpec(0.0, 0.0, 100.0, 100.0, 1.0, square=True, level=63)
    tiles = spark.range(1).select(
        F.lit(0).cast("long").alias("cell_id"), F.lit(1.0).alias("pixelval")
    )
    with pytest.raises(ValueError, match="level"):
        rasterize.rollup_tiles(tiles, spec63)


def test_regrid_square_matches_direct_binning(spark):
    """Regridding a res-10 count raster to res-25 must equal re-binning the
    source tile CENTROIDS directly at res 25."""
    import numpy as np
    from seraster_spark import expressions as X
    from seraster_spark.grid import GridSpec
    from seraster_spark.rasterize import regrid

    rng = np.random.default_rng(4)
    pts = [(int(i), float(rng.uniform(0, 100)), float(rng.uniform(0, 80))) for i in range(400)]
    d = spark.createDataFrame(pts, "doc_id long, x double, y double")
    s_from = GridSpec(0.0, 0.0, 100.0, 80.0, 10.0, square=True)
    s_to = GridSpec(0.0, 0.0, 100.0, 80.0, 25.0, square=True)
    base = d.select(F.expr(X.cell_id_sql("`x`", "`y`", s_from)).alias("cell_id")).groupBy(
        "cell_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    got = {
        (r["cell_id"]): r["n"]
        for r in regrid(base, s_from, s_to, value_cols=("n",), fun="sum").collect()
    }
    # naive: recompute per source tile centroid in python
    from seraster_spark.grid import pack, square_centroid, square_encode
    want: dict[int, int] = {}
    for r in base.collect():
        cx, cy = square_centroid(np.array([r["cell_id"]]), s_from)
        nid = int(square_encode(cx, cy, s_to)[0])
        want[nid] = want.get(nid, 0) + r["n"]
    assert got == want
    assert sum(got.values()) == 400  # mass conserved


def test_regrid_hex_to_square(spark):
    """Cross-geometry resample: hex raster onto a square grid; total mass
    conserved and every target cell id valid on the square spec."""
    import numpy as np
    from seraster_spark import expressions as X
    from seraster_spark.grid import MODE_SQUARE, GridSpec, unpack
    from seraster_spark.rasterize import regrid

    rng = np.random.default_rng(5)
    pts = [(int(i), float(rng.uniform(0, 100)), float(rng.uniform(0, 80))) for i in range(300)]
    d = spark.createDataFrame(pts, "doc_id long, x double, y double")
    s_hex = GridSpec(0.0, 0.0, 100.0, 80.0, 12.0, square=False)
    s_sq = GridSpec(-20.0, -20.0, 120.0, 100.0, 20.0, square=True)
    base = d.select(F.expr(X.cell_id_sql("`x`", "`y`", s_hex)).alias("cell_id")).groupBy(
        "cell_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = regrid(base, s_hex, s_sq, value_cols=("n",), fun="sum").collect()
    assert sum(r["n"] for r in out) == 300
    modes = {int(unpack(np.array([r["cell_id"]]))[0][0]) for r in out}
    assert modes == {MODE_SQUARE}


def test_regrid_mean_vs_sum(spark):
    from seraster_spark import expressions as X
    from seraster_spark.grid import GridSpec
    from seraster_spark.rasterize import regrid

    s_from = GridSpec(0.0, 0.0, 40.0, 10.0, 10.0, square=True)
    s_to = GridSpec(0.0, 0.0, 40.0, 10.0, 20.0, square=True)
    tiles = spark.createDataFrame(
        [(0, 0, 4.0), (0, 1, 6.0), (0, 2, 10.0), (0, 3, 30.0)],
        "row_i long, col_i long, v double",
    ).select(
        F.expr(X.pack_sql(0, 0, "`row_i`", "`col_i`")).alias("cell_id"), "v"
    )
    s = {r["cell_id"]: r["v"] for r in regrid(tiles, s_from, s_to, ("v",), fun="sum").collect()}
    m = {r["cell_id"]: r["v"] for r in regrid(tiles, s_from, s_to, ("v",), fun="mean").collect()}
    assert sorted(s.values()) == [10.0, 40.0]
    assert sorted(m.values()) == [5.0, 20.0]


def test_keep_empty_feature_tiles(spark):
    """Reference all-zero-pixel semantics (R/main.R:153-176): a tile whose
    member docs ALL have empty `values` arrays still appears (feature NULL,
    pixelval 0.0, num_cell intact); mixed tiles keep sparse rows only, with
    the all-empty docs still counted in the mean denominator."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("values", T.ArrayType(T.StructType([
            T.StructField("feature", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]))),
    ])
    rows = [
        (1, 10.0, 10.0, [("f", 6.0)]),   # tile A: one real + one empty doc
        (2, 20.0, 20.0, []),             # tile A, empty values
        (3, 510.0, 10.0, []),            # tile B: ALL empty
        (4, 520.0, 20.0, []),            # tile B
    ]
    df = spark.createDataFrame(rows, schema)
    out = rasterize.rasterize_gene_expression(
        df, 100.0, fun="mean", keep_empty_feature_tiles=True
    ).select("cell_id", "feature", "pixelval", "num_cell").collect()
    by_feat = {(r["feature"], r["num_cell"]): r["pixelval"] for r in out}
    assert len(out) == 2
    # tile A: mean = 6 / 2 (empty doc counts in the denominator)
    assert by_feat[("f", 2)] == 3.0
    # tile B: emitted with NULL feature and zero value
    assert by_feat[(None, 2)] == 0.0
    # default drops the all-empty tile
    dflt = rasterize.rasterize_gene_expression(df, 100.0, fun="mean").collect()
    assert len(dflt) == 1


def test_keep_empty_feature_tiles_preserves_integer_sum_dtype(spark):
    """Long-typed values with fun='sum' must stay long through the
    empty-tile union (a bare 0.0 literal would widen every row to double —
    schema drift the driver hash would catch)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("values", T.ArrayType(T.StructType([
            T.StructField("feature", T.StringType()),
            T.StructField("value", T.LongType()),
        ]))),
    ])
    df = spark.createDataFrame(
        [(1, 10.0, 10.0, [("f", 6)]), (2, 510.0, 10.0, [])], schema
    )
    on = rasterize.rasterize_gene_expression(
        df, 100.0, fun="sum", keep_empty_feature_tiles=True
    )
    off = rasterize.rasterize_gene_expression(df, 100.0, fun="sum")
    assert dict(on.dtypes)["pixelval"] == dict(off.dtypes)["pixelval"]
    vals = {r["feature"]: r["pixelval"] for r in on.collect()}
    assert vals == {"f": 6, None: 0}
