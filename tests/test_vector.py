"""raster<->vector round-trip tests (reference keeps polygons in colData,
R/main.R:191-193; engine synthesizes them in closed form)."""

import json

import numpy as np
from pyspark.sql import functions as F

from seraster_spark import rasterize, vector
from seraster_spark.bbox import grid_spec_for
from seraster_spark.grid import point_in_polygon


def test_tiles_with_wkt(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    tiles = rasterize.rasterize_cell_type(docs, 100.0, fun="sum", spec=spec)
    wkts = vector.tiles_with_wkt(tiles, spec).select("cell_id", "geometry_wkt").distinct()
    pdf = wkts.toPandas()
    assert pdf["geometry_wkt"].str.startswith("POLYGON ((").all()
    # one WKT per tile
    assert pdf["cell_id"].nunique() == len(pdf)


def test_geojson_export(spark, docs):
    spec = grid_spec_for(docs, 200.0, square=False)
    tiles = (
        rasterize.rasterize_cell_type(docs, 200.0, spec=spec, fun="sum")
        .select("cell_id", "num_cell")
        .distinct()
    )
    gj = json.loads(vector.tiles_geojson(tiles, spec))
    assert gj["type"] == "FeatureCollection"
    assert len(gj["features"]) == tiles.count()
    f0 = gj["features"][0]
    ring = f0["geometry"]["coordinates"][0]
    assert len(ring) == 7 and ring[0] == ring[-1]  # closed hex
    assert "num_cell" in f0["properties"]


def test_filter_by_polygon_vs_oracle(spark, docs, docs_pdf):
    spec = grid_spec_for(docs, 100.0, square=True)
    ring = [(500.0, 300.0), (1500.0, 400.0), (1400.0, 1500.0), (600.0, 1300.0)]
    with_cell = rasterize.assign_tiles(docs, spec)
    out = vector.filter_by_polygon(with_cell, ring, spec)
    assert out.columns == with_cell.columns
    ids = [r[0] for r in out.select("doc_id").collect()]
    got = set(ids)
    closed = np.array(ring + [ring[0]], dtype=float)
    inside = point_in_polygon(
        docs_pdf.x.to_numpy(), docs_pdf.y.to_numpy(), closed
    )
    exp = set(docs_pdf.doc_id[inside])
    assert got == exp
    assert len(ids) == len(got)


def test_coarse_filter_superset(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    ring = [(500.0, 300.0), (1500.0, 400.0), (1400.0, 1500.0), (600.0, 1300.0)]
    with_cell = rasterize.assign_tiles(docs, spec)
    coarse = vector.filter_by_polygon(with_cell, ring, spec, exact=False)
    exact = vector.filter_by_polygon(with_cell, ring, spec, exact=True)
    assert exact.join(coarse, "doc_id", "left_anti").count() == 0


import pytest as _pytest


@_pytest.mark.parametrize("square", [True, False])
def test_geojson_lines_writer_matches_driver_export(spark, docs, tmp_path, square):
    """Distributed GeoJSONL sink: same features (geometry + properties) as
    the driver-side FeatureCollection export, one JSON Feature per line,
    written without any driver collect — square (5-point rings) and hex
    (7-point rings)."""
    spec = grid_spec_for(docs, 200.0, square=square)
    tiles = (
        rasterize.rasterize_cell_type(docs, 200.0, spec=spec, fun="sum")
        .select("cell_id", "num_cell")
        .distinct()
    )
    path = str(tmp_path / f"gjl_{square}")
    vector.write_geojson_lines(tiles, spec, path)
    raw_lines = [r["value"] for r in spark.read.text(path).collect()]
    raw_fc = vector.tiles_geojson(tiles, spec)
    lines = [json.loads(v) for v in raw_lines]
    gj = json.loads(raw_fc)

    def key(feat):
        return json.dumps(feat["geometry"]) + "|" + str(feat["properties"]["num_cell"])

    assert sorted(map(key, lines)) == sorted(map(key, gj["features"]))
    assert all(f["type"] == "Feature" for f in lines)

    # BYTE agreement, not just numeric-after-parse: each feature's raw
    # geometry member (fixed %.6f coords, e.g. '1.000000' never '1.0')
    # must be an identical substring across both surfaces
    import re

    geom_re = re.compile(r'"geometry":(\{"type":"Polygon","coordinates":\[\[.*?\]\]\})')
    geoms_lines = sorted(geom_re.search(v).group(1) for v in raw_lines)
    geoms_fc = sorted(m.group(1) for m in geom_re.finditer(raw_fc))
    assert geoms_lines == geoms_fc
    assert all(re.search(r"\d\.\d{6}[,\]]", g) for g in geoms_fc)


def test_tiles_geojson_row_cap(spark, docs):
    import pytest

    spec = grid_spec_for(docs, 100.0, square=True)
    tiles = (
        rasterize.rasterize_cell_type(docs, 100.0, spec=spec, fun="sum")
        .select("cell_id", "num_cell")
        .distinct()
    )
    with pytest.raises(ValueError, match="max_rows"):
        vector.tiles_geojson(tiles, spec, max_rows=5)


def test_geojson_lines_null_properties_serialized(spark, docs):
    """NULL property values must appear as explicit JSON nulls (to_json
    drops them by default — per-line schema drift vs the driver export)."""
    spec = grid_spec_for(docs, 500.0, square=True)
    tiles = (
        rasterize.rasterize_cell_type(docs, 500.0, spec=spec, fun="sum")
        .select("cell_id", F.lit(None).cast("string").alias("tag"), "num_cell")
        .distinct()
    )
    import tempfile, os
    out = os.path.join(tempfile.mkdtemp(), "gjl_null")
    vector.write_geojson_lines(tiles, spec, out)
    feats = [json.loads(r["value"]) for r in spark.read.text(out).collect()]
    assert all("tag" in f["properties"] and f["properties"]["tag"] is None for f in feats)


# --- area-weighted zonal statistics (polygon overlay) ----------------------


def test_clip_areas_rect_closed_form(spark, docs):
    """S-H clip of an axis-aligned rect against square tiles equals the
    min/max closed form bit-for-bit (the property the oracle relies on)."""
    from seraster_spark.grid import tile_clip_areas

    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    cells = np.array([r["cell_id"] for r in wc.select("cell_id").distinct().collect()])
    rx0, ry0, rx1, ry1 = 400.5, 300.5, 1200.5, 900.5
    ring = np.array([(rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1), (rx0, ry0)])
    got = tile_clip_areas(cells, np.zeros(len(cells), dtype=np.int64), [ring], spec)
    from seraster_spark.grid import polygon_vertices

    verts = polygon_vertices(cells, spec)
    tx0, ty0 = verts[:, 0, 0], verts[:, 0, 1]
    tx1, ty1 = tx0 + 100.0, ty0 + 100.0
    exp = np.maximum(0.0, np.minimum(tx1, rx1) - np.maximum(tx0, rx0)) * np.maximum(
        0.0, np.minimum(ty1, ry1) - np.maximum(ty0, ry0)
    )
    assert (got == exp).all()  # bitwise, not approx


def test_clip_areas_mass_conservation_triangle(spark, docs):
    """Clipped areas over all covering tiles sum to the polygon's own
    shoelace area (no double counting, no gaps) — square and hex grids."""
    from seraster_spark.grid import covering_cells, ring_area, tile_clip_areas

    tri = np.array([(333.3, 250.1), (1777.7, 421.9), (901.5, 1666.4), (333.3, 250.1)])
    for square in (True, False):
        spec = grid_spec_for(docs, 100.0, square=square)
        cells = covering_cells(tri, spec)
        areas = tile_clip_areas(cells, np.zeros(len(cells), dtype=np.int64), [tri], spec)
        assert abs(areas.sum() - ring_area(tri)) < 1e-6, square


def test_zonal_weighted_operator(spark, docs):
    """Operator end-to-end: covered_area matches the rect area; a zone
    covering the whole raster weights every tile fully (w_n = total)."""
    spec = grid_spec_for(docs, 100.0, square=True)
    raster = (
        rasterize.assign_tiles(docs, spec)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    rect = [(400.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    big = [(-10000.0, -10000.0), (10000.0, -10000.0), (10000.0, 10000.0), (-10000.0, 10000.0)]
    out = {
        r["zone_id"]: r
        for r in vector.zonal_weighted(raster, {"R": rect, "ALL": big}, spec, ("n",)).collect()
    }
    # the rect lies inside the raster's occupied bbox-extent: its covered
    # area can't exceed the rect's own area, and equals it when every
    # covering tile is occupied (not guaranteed) — assert the bound + a
    # positive weighted mass
    assert 0 < out["R"]["covered_area"] <= 800.0 * 600.0 + 1e-6
    assert 0 < out["R"]["w_n"] <= out["ALL"]["w_n"]
    # the huge zone fully covers every occupied tile: w_n == total docs
    total = raster.agg(F.sum("n")).collect()[0][0]
    assert abs(out["ALL"]["w_n"] - total) < 1e-9
    n_tiles = raster.count()
    assert abs(out["ALL"]["covered_area"] - n_tiles * 100.0 * 100.0) < 1e-6


def test_zonal_weighted_empty_and_outside(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    raster = (
        rasterize.assign_tiles(docs, spec)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    assert vector.zonal_weighted(raster, {}, spec, ("n",)).count() == 0
    far = [(90000.0, 90000.0), (90100.0, 90000.0), (90100.0, 90100.0), (90000.0, 90100.0)]
    assert vector.zonal_weighted(raster, {"F": far}, spec, ("n",)).count() == 0


# ---------------------------------------------------------------------------
# spatial_join_corpus — polygons as data


_SJ_POLYS = {
    "A": [(300.0, 200.0), (1600.0, 400.0), (1500.0, 1800.0), (500.0, 1700.0)],
    "B": [(900.0, 100.0), (1900.0, 900.0), (1000.0, 1900.0)],
    # concave L, given closed
    "L": [
        (1800.0, 200.0),
        (2800.0, 200.0),
        (2800.0, 700.0),
        (2300.0, 700.0),
        (2300.0, 1600.0),
        (1800.0, 1600.0),
        (1800.0, 200.0),
    ],
}


def _sj_polys_df(spark, polys=None, id_type="string"):
    polys = polys if polys is not None else _SJ_POLYS
    rows = [
        (pid, [float(p[0]) for p in verts], [float(p[1]) for p in verts])
        for pid, verts in polys.items()
    ]
    return spark.createDataFrame(
        rows, f"poly_id {id_type}, xs array<double>, ys array<double>"
    )


def test_spatial_join_dict_and_corpus_match_brute_force(spark, docs, docs_pdf):
    """The dict adapter and both corpus join shapes give exactly the
    (doc, polygon) pairs of a brute-force ray cast over every doc, for
    convex and concave rings."""
    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    want = set()
    for pid, verts in _SJ_POLYS.items():
        ring = np.asarray(verts, dtype=np.float64)
        if not (ring[0] == ring[-1]).all():
            ring = np.vstack([ring, ring[:1]])
        inside = point_in_polygon(docs_pdf.x.to_numpy(), docs_pdf.y.to_numpy(), ring)
        want |= {(d, pid) for d in docs_pdf.doc_id[inside]}
    assert {p for _, p in want} == set(_SJ_POLYS)  # every ring holds docs
    outs = {"dict": vector.spatial_join(wc, _SJ_POLYS, spec)}
    for bc in (True, False):
        outs[bc] = vector.spatial_join_corpus(
            wc, _sj_polys_df(spark), spec, broadcast_cover=bc
        )
    for name, out in outs.items():
        got = out.select("doc_id", "poly_id").collect()
        assert len(got) == len(want), name
        assert {(r["doc_id"], r["poly_id"]) for r in got} == want, name


def test_spatial_join_dict_rejects_degenerate_ring(spark, docs):
    """A driver-dict ring that cannot be covered, or a NULL id, is a
    caller error: it raises instead of being dropped while the other rings
    join."""
    import pytest

    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    for bad in (
        [(10.0, 10.0), (20.0, 10.0)],
        [(0.0, 0.0), (float("nan"), 1.0), (5.0, 2.0)],
        [(0.0, 0.0, 1.0), (1.0, 0.0, 1.0), (1.0, 1.0, 1.0)],
    ):
        with pytest.raises(ValueError, match="degenerate polygon ring"):
            vector.spatial_join(wc, {**_SJ_POLYS, "bad": bad}, spec)
        with pytest.raises(ValueError, match="degenerate polygon ring"):
            vector.filter_by_polygon(wc, bad, spec)
    with pytest.raises(ValueError, match="degenerate polygon ring"):
        vector.spatial_join(wc, {None: _SJ_POLYS["A"]}, spec)


def test_spatial_join_dict_has_no_tile_cap(spark, docs, docs_pdf):
    """A driver-dict ring whose bbox spans more than the corpus default of
    262144 candidate tiles (here ~270k on a fine grid) still joins, through
    spatial_join, filter_by_polygon and zonal_weighted, to exactly the docs
    of a brute-force ray cast."""
    spec = grid_spec_for(docs, 2.0, square=True)
    sliver = [(300.0, 200.0), (1340.0, 1240.0), (1340.0, 1140.0)]
    assert (1040.0 / spec.resolution + 2) ** 2 > vector._MAX_TILES_PER_POLY
    ring = np.asarray(sliver + sliver[:1])
    inside = point_in_polygon(docs_pdf.x.to_numpy(), docs_pdf.y.to_numpy(), ring)
    want = set(docs_pdf.doc_id[inside])
    assert want
    wc = rasterize.assign_tiles(docs, spec)
    got = vector.spatial_join(wc, {"S": sliver}, spec).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    got = vector.filter_by_polygon(wc, sliver, spec).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    tiles = wc.groupBy("cell_id").agg(F.count(F.lit(1)).cast("double").alias("n"))
    zw = vector.zonal_weighted(tiles, {"S": sliver}, spec, ("n",)).collect()
    assert [r["zone_id"] for r in zw] == ["S"] and zw[0]["covered_area"] > 0.0


def test_spatial_join_corpus_coarse_and_schema(spark, docs):
    """Output columns are exactly ``cell_id``, the other input columns in
    input order, then ``poly_id`` — coarse and exact, corpus and dict — and
    exact filtering only removes rows."""
    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    want = ["cell_id"] + [c for c in wc.columns if c != "cell_id"] + ["poly_id"]
    for exact in (False, True):
        for out in (
            vector.spatial_join_corpus(wc, _sj_polys_df(spark), spec, exact=exact),
            vector.spatial_join(wc, _SJ_POLYS, spec, exact=exact),
        ):
            assert out.columns == want, exact
    empty = vector.spatial_join(wc, {}, spec)
    assert empty.columns == want and empty.count() == 0
    coarse = vector.spatial_join_corpus(wc, _sj_polys_df(spark), spec, exact=False)
    exact = vector.spatial_join_corpus(wc, _sj_polys_df(spark), spec)
    assert coarse.count() >= exact.count()


def test_spatial_join_corpus_degenerate_rows_dropped(spark, docs):
    """NULL rings, 2-vertex rings, and non-finite rings are dropped; the
    valid polygon still joins. Long ids work (id dtype preserved)."""
    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    rows = [
        (1, [300.0, 1600.0, 1500.0, 500.0], [200.0, 400.0, 1800.0, 1700.0]),
        (2, None, None),
        (3, [10.0, 20.0], [10.0, 10.0]),
        (4, [0.0, float("nan"), 5.0], [0.0, 1.0, 2.0]),
    ]
    polys = spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>"
    )
    out = vector.spatial_join_corpus(wc, polys, spec)
    pids = {r["poly_id"] for r in out.select("poly_id").distinct().collect()}
    assert pids == {1}
    assert dict(out.dtypes)["poly_id"] == "bigint"


def test_spatial_join_corpus_cap_raises(spark, docs):
    import pytest

    spec = grid_spec_for(docs, 100.0, square=True)
    wc = rasterize.assign_tiles(docs, spec)
    huge = {"H": [(-9000.0, -9000.0), (9000.0, -9000.0), (9000.0, 9000.0)]}
    with pytest.raises(Exception, match="max_tiles_per_poly"):
        vector.spatial_join_corpus(
            wc, _sj_polys_df(spark, huge), spec, max_tiles_per_poly=10
        ).collect()


# ---------------------------------------------------------------------------
# rasterize_polygons — polygon-corpus coverage raster


def _poly_df(spark, rings, vals=None):
    rows = []
    for i, ring in enumerate(rings):
        xs = [float(p[0]) for p in ring]
        ys = [float(p[1]) for p in ring]
        rows.append((i, xs, ys, float(vals[i]) if vals else 1.0))
    return spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>, val double"
    )


def _collect_cov(df):
    from seraster_spark.grid import unpack

    out = {}
    for r in df.collect():
        _, _, rr, cc = unpack(np.array([r["cell_id"]], dtype=np.int64))
        out[(int(rr[0]), int(cc[0]))] = r
    return out


def test_rasterize_polygons_rect_exact(spark, docs):
    """A single rect: per-tile cov_area equals the closed form bitwise and
    total coverage equals the rect's own area exactly (dyadic coords)."""
    spec = grid_spec_for(docs, 100.0, square=True)
    rect = [(400.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    out = vector.rasterize_polygons(_poly_df(spark, [rect]), spec, ("val",))
    cov = _collect_cov(out)
    total = sum(r["cov_area"] for r in cov.values())
    assert total == 800.0 * 600.0  # exact
    for r in cov.values():
        assert r["n_polys"] == 1
        assert 0 < r["cov_frac"] <= 1.0
        assert r["w_val"] == r["cov_frac"]  # val == 1 burn


def test_rasterize_polygons_overlap_counts(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    r1 = [(400.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    r2 = [(800.5, 500.5), (1600.5, 500.5), (1600.5, 1100.5), (800.5, 1100.5)]
    out = vector.rasterize_polygons(_poly_df(spark, [r1, r2], [2, 3]), spec, ("val",))
    cov = _collect_cov(out)
    both = [r for r in cov.values() if r["n_polys"] == 2]
    assert both  # overlap region exists
    # a tile fully inside both rects: cov_frac == 2, w_val == 2+3
    full = [r for r in both if abs(r["cov_frac"] - 2.0) < 1e-12]
    assert full
    assert abs(full[0]["w_val"] - 5.0) < 1e-12


def test_rasterize_polygons_rect_fastpath_equals_sh(spark, docs):
    """The vectorized rect path must agree BITWISE with the S-H kernel —
    defeat rect detection with a collinear midpoint on one edge."""
    spec = grid_spec_for(docs, 100.0, square=True)
    rect = [(400.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    rect5 = [(400.5, 300.5), (800.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    a = _collect_cov(vector.rasterize_polygons(_poly_df(spark, [rect]), spec))
    b = _collect_cov(vector.rasterize_polygons(_poly_df(spark, [rect5]), spec))
    assert set(a) == set(b)
    for k in a:
        assert a[k]["cov_area"] == b[k]["cov_area"], k  # bitwise


def test_rasterize_polygons_triangle_mass_and_hex(spark, docs):
    from seraster_spark.grid import ring_area

    tri = [(333.3, 250.1), (1777.7, 421.9), (901.5, 1666.4)]
    ring = np.array(tri + [tri[0]])
    for square in (True, False):
        spec = grid_spec_for(docs, 100.0, square=square)
        out = vector.rasterize_polygons(_poly_df(spark, [tri]), spec)
        total = sum(r["cov_area"] for r in out.collect())
        assert abs(total - ring_area(ring)) < 1e-6, square


def test_rasterize_polygons_open_ring_rotation_invariant(spark, docs):
    """covering_cells edge-walks ring[:-1]->ring[1:], so an OPEN ring fed
    unclosed loses its closing edge — a regression that only bites for
    some vertex rotations (the dropped edge must face the +x ray). Every
    rotation, open or closed, must give identical total mass."""
    from seraster_spark.grid import ring_area

    tri = [(333.3, 250.1), (1777.7, 421.9), (901.5, 1666.4)]
    spec = grid_spec_for(docs, 100.0, square=True)
    want = ring_area(np.array(tri + [tri[0]]))
    for rot in range(3):
        open_ring = tri[rot:] + tri[:rot]
        closed_ring = open_ring + [open_ring[0]]
        for variant in (open_ring, closed_ring):
            out = vector.rasterize_polygons(_poly_df(spark, [variant]), spec)
            total = sum(r["cov_area"] for r in out.collect())
            assert abs(total - want) < 1e-6, (rot, len(variant))


def test_rasterize_polygons_degenerate_and_offgrid(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    degenerate = [(10.0, 10.0), (20.0, 10.0)]  # 2 vertices
    far = [(90000.0, 90000.0), (90100.0, 90000.0), (90100.0, 90100.0)]
    out = vector.rasterize_polygons(_poly_df(spark, [degenerate, far]), spec)
    assert out.count() == 0


def test_rasterize_polygons_null_ring_and_null_burn(spark, docs):
    """NULL xs/ys rows are dropped (not task crashes); NULL burn counts
    coverage but contributes 0 to the weighted sum (SQL sum-ignores-NULL)
    — identically on the rect fast path and the S-H ring path."""
    spec = grid_spec_for(docs, 100.0, square=True)
    rect = [(400.5, 300.5), (1200.5, 300.5), (1200.5, 900.5), (400.5, 900.5)]
    tri = [(333.3, 250.1), (777.7, 421.9), (501.5, 666.4)]
    rows = [
        (0, [float(p[0]) for p in rect], [float(p[1]) for p in rect], None),
        (1, None, None, 2.0),
        (2, [float(p[0]) for p in tri], [float(p[1]) for p in tri], None),
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>, val double"
    )
    cov = _collect_cov(vector.rasterize_polygons(df, spec, ("val",)))
    assert cov  # NULL-ring row didn't crash the task, others rasterized
    total = sum(r["cov_area"] for r in cov.values())
    assert total > 800.0 * 600.0  # rect + triangle mass, no NULL-ring mass
    for r in cov.values():
        assert r["w_val"] == 0.0  # NULL burn -> zero weighted mass, not NaN


def test_rasterize_polygons_cap_raises(spark, docs):
    import pytest

    spec = grid_spec_for(docs, 100.0, square=True)
    rect = [(-1000.5, -1000.5), (4000.5, -1000.5), (4000.5, 3000.5), (-1000.5, 3000.5)]
    with pytest.raises(Exception, match="max_tiles_per_poly"):
        vector.rasterize_polygons(
            _poly_df(spark, [rect]), spec, max_tiles_per_poly=10
        ).collect()


def test_rasterize_polygons_matches_zonal_weighted(spark, docs):
    """Same ring through rasterize_polygons (per-tile) and zonal_weighted
    (per-zone over a FULL tile frame): covered areas must agree."""
    from seraster_spark.grid import pack as grid_pack

    spec = grid_spec_for(docs, 100.0, square=True)
    tri = [(333.3, 250.1), (1777.7, 421.9), (901.5, 1666.4)]
    # full grid tiles so zonal misses nothing
    import itertools

    rows = [
        (int(grid_pack(0, 0, np.array([r]), np.array([c]))[0]), 1.0)
        for r, c in itertools.product(range(spec.nrows), range(spec.ncols))
    ]
    tiles = spark.createDataFrame(rows, "cell_id long, n double")
    zw = vector.zonal_weighted(tiles, {"T": tri}, spec, ("n",)).collect()[0]
    out = vector.rasterize_polygons(_poly_df(spark, [tri]), spec)
    total = sum(r["cov_area"] for r in out.collect())
    assert abs(total - zw["covered_area"]) < 1e-9


def test_per_ring_geometry_kernels_are_test_references_only():
    """Every polygon entry point covers and tests its rings through the
    batched kernels: outside ``grid.py`` no module of the package names
    the per-ring ``covering_cells``, ``point_in_polygon`` or
    ``point_polygon_distance``, which stay as the tests' reference."""
    import ast
    import glob
    import os

    per_ring = {"covering_cells", "point_in_polygon", "point_polygon_distance"}
    root = os.path.join(os.path.dirname(__file__), os.pardir, "seraster_spark")
    uses = []
    for path in sorted(glob.glob(os.path.join(root, "*.py"))):
        if os.path.basename(path) == "grid.py":
            continue
        for node in ast.walk(ast.parse(open(path).read(), path)):
            names = (
                [a.name for a in node.names]
                if isinstance(node, ast.ImportFrom)
                else [getattr(node, "id", None) or getattr(node, "attr", None)]
            )
            uses += [(os.path.basename(path), n) for n in names if n in per_ring]
    assert not uses, uses
