"""Unit tests for the pure-numpy grid kernels (no Spark)."""

import numpy as np
import pytest

from seraster_spark import grid
from seraster_spark.grid import GridSpec

SQ = GridSpec(0.0, 0.0, 3000.0, 2000.0, 100.0, square=True, level=5)
HX = GridSpec(0.0, 0.0, 3000.0, 2000.0, 100.0, square=False, level=5)
RNG = np.random.default_rng(123)


def test_pack_unpack_roundtrip_signed():
    rows = np.array([0, 1, -1, 1000, -1000, 2**26], dtype=np.int64)
    cols = np.array([0, -1, 1, -1000, 1000, -(2**26)], dtype=np.int64)
    for mode in (0, 1):
        for level in (0, 5, 63):
            cid = grid.pack(mode, level, rows, cols)
            m, l, r, c = grid.unpack(cid)
            assert (m == mode).all()
            assert (l == level).all()
            np.testing.assert_array_equal(r, rows)
            np.testing.assert_array_equal(c, cols)


def test_square_encode_matches_floor():
    x = RNG.uniform(0, 3000, 5000)
    y = RNG.uniform(0, 2000, 5000)
    row, col = grid.square_rowcol(x, y, SQ)
    # off-gridline points: plain floor
    off = (np.mod(x, 100) != 0) & (np.mod(y, 100) != 0)
    np.testing.assert_array_equal(col[off], np.floor(x[off] / 100).astype(np.int64))
    np.testing.assert_array_equal(row[off], np.floor(y[off] / 100).astype(np.int64))


def test_square_boundary_tiebreak():
    # point exactly on interior gridline -> lower cell (R/main.R:134-135)
    x = np.array([0.0, 100.0, 200.0, 150.0])
    y = np.array([0.0, 100.0, 0.0, 200.0])
    row, col = grid.square_rowcol(x, y, SQ)
    np.testing.assert_array_equal(col, [0, 0, 1, 1])
    np.testing.assert_array_equal(row, [0, 0, 0, 1])


def test_square_centroid_and_index():
    x = RNG.uniform(0, 3000, 1000)
    y = RNG.uniform(0, 2000, 1000)
    cid = grid.square_encode(x, y, SQ)
    cx, cy = grid.square_centroid(cid, SQ)
    assert (np.abs(cx - x) <= 50.0).all()
    assert (np.abs(cy - y) <= 50.0).all()
    idx = grid.square_index(cid, SQ)
    _, _, row, col = grid.unpack(cid)
    np.testing.assert_array_equal(idx, row * SQ.ncols + col)


def test_hex_encode_is_nearest_center():
    """Every point's assigned hex center is the nearest center among its
    1-ring — the defining property of hexagonal binning."""
    x = RNG.uniform(50, 2950, 2000)
    y = RNG.uniform(50, 1950, 2000)
    cid = grid.hex_encode(x, y, HX)
    cx, cy = grid.hex_centroid(cid, HX)
    d_own = np.hypot(x - cx, y - cy)
    s = 100.0 / np.sqrt(3)
    assert (d_own <= s + 1e-9).all()
    ring = grid.hex_kring(cid, 1)
    for i in range(0, 2000, 13):
        rcx, rcy = grid.hex_centroid(ring[i], HX)
        d = np.hypot(x[i] - rcx, y[i] - rcy)
        assert d.min() >= d_own[i] - 1e-9


def test_hex_partition_is_total():
    """Each point maps to exactly one hex (function, not relation)."""
    x = RNG.uniform(0, 3000, 500)
    y = RNG.uniform(0, 2000, 500)
    a = grid.hex_encode(x, y, HX)
    b = grid.hex_encode(x, y, HX)
    np.testing.assert_array_equal(a, b)


def test_kring_sizes():
    cid = grid.square_encode(np.array([500.0]), np.array([500.0]), SQ)
    for k in (1, 2, 3):
        ring = grid.square_kring(cid, k)
        assert ring.shape == (1, (2 * k + 1) ** 2)
        assert len(np.unique(ring[0])) == (2 * k + 1) ** 2
        assert cid[0] in ring[0]
    hid = grid.hex_encode(np.array([500.0]), np.array([500.0]), HX)
    for k in (1, 2, 3):
        ring = grid.hex_kring(hid, k)
        assert ring.shape == (1, 1 + 3 * k * (k + 1))
        assert len(np.unique(ring[0])) == 1 + 3 * k * (k + 1)
        assert hid[0] in ring[0]


def test_polygon_wkt_square():
    cid = grid.square_encode(np.array([150.0]), np.array([250.0]), SQ)
    wkt = grid.polygon_wkt(cid, SQ)[0]
    assert wkt.startswith("POLYGON ((")
    assert "100.000000 200.000000" in wkt
    # closed ring: first == last
    pts = wkt[len("POLYGON (("):-2].split(", ")
    assert len(pts) == 5 and pts[0] == pts[-1]


def test_polygon_vertices_contain_centroid():
    for spec in (SQ, HX):
        x = RNG.uniform(100, 2900, 50)
        y = RNG.uniform(100, 1900, 50)
        cid = grid.encode(x, y, spec)
        verts = grid.polygon_vertices(cid, spec)
        cx, cy = grid.centroid(cid, spec)
        for i in range(50):
            assert grid.point_in_polygon(cx[i : i + 1], cy[i : i + 1], verts[i])[0]


def test_point_in_polygon_basic():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([5.0, 15.0, 10.0, 0.0, -0.1])
    py = np.array([5.0, 5.0, 5.0, 0.0, 5.0])
    np.testing.assert_array_equal(
        grid.point_in_polygon(px, py, ring), [True, False, True, True, False]
    )


def test_point_in_polygon_concave():
    # L-shape
    ring = np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], dtype=float
    )
    px = np.array([2.0, 8.0, 8.0, 2.0])
    py = np.array([2.0, 2.0, 8.0, 8.0])
    np.testing.assert_array_equal(
        grid.point_in_polygon(px, py, ring), [True, True, False, True]
    )


def test_covering_cells_roundtrip():
    """raster -> vector -> raster: a tile's own polygon covers exactly that
    tile (plus boundary-sharing neighbors from closed-ring vertices)."""
    cid = grid.square_encode(np.array([550.0]), np.array([750.0]), SQ)
    ring = grid.polygon_vertices(cid, SQ)[0]
    cover = grid.covering_cells(ring, SQ)
    assert cid[0] in cover
    # every point strictly inside the tile is in a covered cell
    x = RNG.uniform(501, 599, 100)
    y = RNG.uniform(701, 799, 100)
    pts_cells = grid.square_encode(x, y, SQ)
    assert np.isin(pts_cells, cover).all()


def test_covering_cells_big_polygon():
    ring = np.array(
        [[100, 100], [900, 150], [850, 900], [150, 850], [100, 100]], dtype=float
    )
    cover = grid.covering_cells(ring, SQ)
    # all interior points' cells covered
    x = RNG.uniform(200, 800, 300)
    y = RNG.uniform(250, 800, 300)
    inside = grid.point_in_polygon(x, y, ring)
    cells = grid.square_encode(x[inside], y[inside], SQ)
    assert np.isin(cells, cover).all()


def test_covering_cells_keeps_far_corner_vertex_tile():
    """A ring vertex on a tile corner far from the origin (relative to the
    resolution) keeps the tile it encodes to, on both cover kernels: the
    centroid→vertex distance there exceeds circumradius·(1 + 1e-12) by
    float error alone."""
    spec = GridSpec(0.0, 16384.0, 40.4, 16414.3, 1.01, square=True)
    ring = np.array([[0.0, 16384.0], [-0.3, 16383.0], [-0.6, 16383.0], [0.0, 16384.0]])
    tile = int(grid.encode(ring[:1, 0], ring[:1, 1], spec)[0])
    assert tile in grid.covering_cells(ring, spec)
    _, cells = grid.covering_cells_batch(
        ring[:, 0], ring[:, 1], np.array([0]), np.array([len(ring)]), spec
    )
    assert tile in cells


def test_morton_expr_interleaves_and_clusters(spark):
    """Morton code = python-reference bit interleave; and sorting by it
    clusters space: the mean |Δrow|+|Δcol| between SORT-adjacent tiles is
    far smaller than under a row-major sort of a wide grid."""
    from pyspark.sql import functions as F

    from seraster_spark.expressions import morton_sql

    def py_morton(r, c, bits=16):
        out = 0
        for i in range(bits):
            out |= ((c >> i) & 1) << (2 * i) | ((r >> i) & 1) << (2 * i + 1)
        return out

    cells = [(r, c) for r in range(32) for c in range(64)]
    df = spark.createDataFrame(cells, "row_i long, col_i long").withColumn(
        "m", F.expr(morton_sql("`row_i`", "`col_i`", bits=16))
    )
    rows = df.collect()
    for r in rows:
        assert r["m"] == py_morton(r["row_i"], r["col_i"]), (r["row_i"], r["col_i"])

    # the data-skipping metric: split the sorted order into 64-tile "files";
    # a 2D range predicate prunes compact (square-ish) file bboxes far
    # better than full-width strips. Z-order files are 8x8 blocks (max side
    # 8); row-major files are 1x64 strips (max side 64).
    def mean_file_max_side(order, per_file=64):
        sides = []
        for i in range(0, len(order), per_file):
            chunk = order[i:i + per_file]
            rs = [p[0] for p in chunk]; cs = [p[1] for p in chunk]
            sides.append(max(max(rs) - min(rs), max(cs) - min(cs)) + 1)
        return sum(sides) / len(sides)

    z = [(r["row_i"], r["col_i"]) for r in sorted(rows, key=lambda r: r["m"])]
    rowmajor = sorted((r["row_i"], r["col_i"]) for r in rows)
    assert mean_file_max_side(z) <= mean_file_max_side(rowmajor) / 4


def test_pack_column_matches_numpy_out_of_range(spark):
    """Out-of-range coordinates must wrap IDENTICALLY in the Column and
    numpy encoders (the Column path previously bled bits into the
    level/mode fields)."""
    import numpy as np

    from pyspark.sql import functions as F

    from seraster_spark import expressions as X
    from seraster_spark.grid import pack

    vals = [(0, 0), (5, -3), ((1 << 27) + 7, 11), (-(1 << 27) - 2, (1 << 28) + 9)]
    df = spark.createDataFrame(vals, "r long, c long").withColumn(
        "cid", F.expr(X.pack_sql(1, 3, "`r`", "`c`"))
    )
    got = {(x["r"], x["c"]): x["cid"] for x in df.collect()}
    for (r, c), cid in got.items():
        want = int(pack(1, 3, np.array([r]), np.array([c]))[0])
        assert cid == want, (r, c)


def test_point_in_polygons_grouped_matches_single():
    """Grouped gather-PIP must agree with point_in_polygon per ring —
    including RAGGED ring lengths (padding with the repeated last vertex
    must add no crossings and no spurious on-boundary hits), boundary
    points, and vertex-coincident points."""
    import numpy as np

    from seraster_spark.grid import point_in_polygon, point_in_polygons_grouped

    rng = np.random.default_rng(7)
    tri = np.array([(0.0, 0.0), (10.0, 0.0), (5.0, 8.0), (0.0, 0.0)])
    quad = np.array([(2.0, 2.0), (12.0, 3.0), (11.0, 9.0), (3.0, 8.0), (2.0, 2.0)])
    penta = np.array(
        [(-5.0, -5.0), (5.0, -6.0), (8.0, 0.0), (0.0, 6.0), (-7.0, 1.0), (-5.0, -5.0)]
    )
    rings = [tri, quad, penta]
    px = rng.uniform(-10, 15, 600)
    py = rng.uniform(-10, 12, 600)
    # seed exact boundary/vertex points per ring
    px[:3], py[:3] = [0.0, 10.0, 5.0], [0.0, 0.0, 0.0]  # tri vertices + edge
    px[3], py[3] = 5.0, 0.0  # on tri's bottom edge
    codes = rng.integers(0, 3, 600)
    got = point_in_polygons_grouped(px, py, codes, rings)
    for c in range(3):
        m = codes == c
        want = point_in_polygon(px[m], py[m], rings[c])
        assert (got[m] == want).all(), c


def test_ray_cast_and_distance_ignore_overflow_on_undecisive_edges():
    """An edge 2 ulps tall overflows the ray-cast x-intercept for a probe
    far off its y-range, and a subnormal-squared edge overflows the
    distance projection for a far probe. Neither edge decides anything:
    the intercept is masked unless the edge straddles the probe's
    scanline (then |py - y0| <= |y1 - y0|), and the projection is clipped
    to [0, 1]. So no RuntimeWarning escapes, and the decisions and
    distances stay exact."""
    import warnings

    lo = 1e-300
    hi = np.nextafter(np.nextafter(lo, 1.0), 1.0)
    thin = np.array([(0.0, lo), (10.0, hi), (5.0, 2e3), (0.0, lo)])
    px = np.array([5.0, 1.0, 9.0, 5.0])
    py = np.array([1e3, 1e3, 1e3, -1e3])
    tiny = np.array([(0.0, 0.0), (1e-160, 0.0), (0.0, 1.0), (0.0, 0.0)])
    qx, qy = np.array([1e150]), np.array([0.5])
    e = tiny[None, :-1], tiny[None, 1:]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        inside = grid.point_in_polygon(px, py, thin)
        grouped = grid.point_in_polygons_grouped(px, py, np.zeros(4, int), [thin])
        dist = grid.point_polygon_distance(qx, qy, tiny)
        dist_pad = grid._dist_on_pad(
            qx, qy, e[0][..., 0], e[0][..., 1], e[1][..., 0], e[1][..., 1]
        )
    np.testing.assert_array_equal(inside, [True, False, False, False])
    np.testing.assert_array_equal(grouped, inside)
    assert dist[0] == dist_pad[0] == 1e150
