"""Property-based tests (hypothesis) for the numpy grid kernels, and for
the Column-expression encoders that must match them bit for bit."""

from unittest import mock

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from seraster_spark import expressions as X
from seraster_spark import grid, vector
from seraster_spark.grid import GridSpec

coords = st.tuples(
    st.floats(min_value=0.0, max_value=3000.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=2000.0, allow_nan=False),
)
resolutions = st.sampled_from([25.0, 50.0, 100.0, 200.0, 333.0])


@settings(max_examples=200, deadline=None)
@given(st.lists(coords, min_size=1, max_size=50), resolutions)
def test_square_every_point_one_tile_containing_it(pts, res):
    spec = GridSpec(0.0, 0.0, 3000.0, 2000.0, res, square=True)
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    cid = grid.square_encode(x, y, spec)
    _, _, row, col = grid.unpack(cid)
    # the point lies inside (or on the boundary of) its assigned tile
    x0 = spec.xmin + col * res
    y0 = spec.ymin + row * res
    assert (x >= x0 - 1e-9).all() and (x <= x0 + res + 1e-9).all()
    assert (y >= y0 - 1e-9).all() and (y <= y0 + res + 1e-9).all()
    # determinism
    np.testing.assert_array_equal(cid, grid.square_encode(x, y, spec))


@settings(max_examples=100, deadline=None)
@given(st.lists(coords, min_size=1, max_size=30), resolutions)
def test_hex_assignment_is_nearest_center(pts, res):
    spec = GridSpec(0.0, 0.0, 3000.0, 2000.0, res, square=False)
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    cid = grid.hex_encode(x, y, spec)
    cx, cy = grid.hex_centroid(cid, spec)
    d_own = np.hypot(x - cx, y - cy)
    ring = grid.hex_kring(cid, 1)
    for i in range(len(pts)):
        rcx, rcy = grid.hex_centroid(ring[i], spec)
        d = np.hypot(x[i] - rcx, y[i] - rcy)
        # own hex center is (weakly) nearest among the 1-ring
        assert d.min() >= d_own[i] - 1e-6


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=-(2**26), max_value=2**26),
    st.integers(min_value=-(2**26), max_value=2**26),
    st.integers(min_value=0, max_value=63),
    st.sampled_from([0, 1]),
)
def test_pack_unpack_roundtrip(row, col, level, mode):
    cid = grid.pack(mode, level, np.array([row]), np.array([col]))
    m, l, r, c = grid.unpack(cid)
    assert (m[0], l[0], r[0], c[0]) == (mode, level, row, col)


@settings(max_examples=50, deadline=None)
@given(st.lists(coords, min_size=3, max_size=8))
@example([(0.0, 0.0), (0.0, 1868.0), (98.0, 0.0), (1e-05, 0.0), (1e-05, 6.103515625e-05)])
def test_pip_matches_winding_for_convex_hull(pts):
    """Ray-casting PIP agrees with the convex cross-product test on the
    convex hull of random points."""
    arr = np.array(pts)
    # build convex hull via gift wrapping on unique points
    uniq = np.unique(arr, axis=0)
    if len(uniq) < 3:
        return
    c = uniq.mean(axis=0)
    ang = np.arctan2(uniq[:, 1] - c[1], uniq[:, 0] - c[0])
    order = np.argsort(ang)
    poly = uniq[order]
    # drop collinear degenerate polys
    area = 0.5 * np.sum(
        poly[:, 0] * np.roll(poly[:, 1], -1) - np.roll(poly[:, 0], -1) * poly[:, 1]
    )
    if abs(area) < 1e-6:
        return
    # angular sort around the centroid is star-shaped, not necessarily
    # convex — the winding test below assumes convexity, so skip non-convex.
    # No tolerance: a reflex turn between 1e-5-long edges has a cross
    # product near -6e-10, and the half-plane test then misjudges points
    # far from that vertex
    e = np.roll(poly, -1, axis=0) - poly
    crosses = e[:, 0] * np.roll(e, -1, axis=0)[:, 1] - e[:, 1] * np.roll(e, -1, axis=0)[:, 0]
    if (crosses < 0).any():
        return
    ring = np.vstack([poly, poly[:1]])
    probe = np.random.default_rng(0).uniform([0, 0], [3000, 2000], (50, 2))
    got = grid.point_in_polygon(probe[:, 0], probe[:, 1], ring)
    # winding test (CCW since sorted by angle around centroid)
    inside = np.ones(len(probe), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        cross = (x1 - x0) * (probe[:, 1] - y0) - (y1 - y0) * (probe[:, 0] - x0)
        inside &= cross >= -1e-9
    # strictly-interior / strictly-exterior points must agree (boundary
    # epsilon band excluded)
    strict = np.ones(len(probe), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        cross = (x1 - x0) * (probe[:, 1] - y0) - (y1 - y0) * (probe[:, 0] - x0)
        edge_len = np.hypot(x1 - x0, y1 - y0) + 1e-12
        strict &= np.abs(cross) / edge_len > 1e-6
    np.testing.assert_array_equal(got[strict], inside[strict])


@settings(max_examples=50, deadline=None)
@given(coords, st.integers(min_value=1, max_value=4))
def test_kring_contains_all_within_distance(pt, k):
    spec = GridSpec(0.0, 0.0, 3000.0, 2000.0, 100.0, square=True)
    cid = grid.square_encode(np.array([pt[0]]), np.array([pt[1]]), spec)
    ring = set(grid.square_kring(cid, k)[0].tolist())
    _, _, r0, c0 = grid.unpack(cid)
    for dr in range(-k, k + 1):
        for dc in range(-k, k + 1):
            nb = grid.pack(0, 0, r0 + dr, c0 + dc)
            assert nb[0] in ring


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        ),
        min_size=2,
        max_size=25,
    ),
    st.floats(0.1, 1e4, allow_nan=False, allow_infinity=False),
)
def test_pointpat_bucket_cover_complete(pts, r_max):
    """The 9-neighbor bucket-cover lemma behind pointpat.pair_stats /
    nn_stats / knox: ANY pair the float d² predicate accepts lands in the
    same or 8-adjacent buckets of the widened grid — including negative
    coords, boundary-exact coords, and float rounding near bucket edges.
    Replays the engine's exact arithmetic: buckets come from
    ``_cover_divisor(r_max)`` (r_max widened 2⁻²⁰ — with the raw r_max
    divisor the lemma is FALSE on floats; Hypothesis found (0, 1) vs
    (0, −1.11e−308) at r_max=1, d² rounding to exactly 1.0 while the
    buckets sit two apart)."""
    from seraster_spark.pointpat import _cover_divisor

    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    bsize = _cover_divisor(r_max)
    bx = np.floor(xs / bsize)
    by = np.floor(ys / bsize)
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    close = d2 <= r_max * r_max
    np.fill_diagonal(close, False)
    ii, jj = np.nonzero(close)
    assert np.all(np.abs(bx[ii] - bx[jj]) <= 1)
    assert np.all(np.abs(by[ii] - by[jj]) <= 1)


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
    st.sampled_from([5, 20, 100]),
    st.sampled_from([7, 30, 150]),
    st.sampled_from([-50, 0, 17]),
)
def test_kde_sequence_range_cover_complete(p, resolution, bandwidth, origin):
    """kde_raster's per-axis candidate range [floor((p−h−o)/res),
    floor((p+h−o)/res)+1] covers every index c whose DOUBLED-coordinate
    center satisfies the kernel predicate D2 ≤ (2h)² — the ±1 slop plus the
    half-tile gap between a range endpoint and the nearest qualifying
    center make it immune to the few-ulp rounding that bit the pointpat
    bucket cover (margin ≈ res/2 ≫ ulp for any sane |p|/res)."""
    res, h, o = float(resolution), float(bandwidth), float(origin)
    lo = np.floor((p - h - o) / res)
    hi = np.floor((p + h - o) / res) + 1.0
    # qualifying indices by the engine's exact integer-free predicate:
    # center_c = o + (c + 1/2)·res, qualify iff (2(p − center_c))² ≤ (2h)²
    cand = np.arange(lo - 3, hi + 4)  # widen for the scan; assert none
    dx2 = 2.0 * p - (2.0 * o + (2.0 * cand + 1.0) * res)
    qual = dx2 * dx2 <= 4.0 * h * h
    qc = cand[qual]
    if len(qc):
        assert qc.min() >= lo and qc.max() <= hi


# ---------------------------------------------------------------------------
# Column expressions == numpy kernels, bit for bit (square and hex)

_spark_settings = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@st.composite
def _grid_pairs(draw):
    """A square and a hex grid sharing an arbitrary origin and resolution."""
    xmin = draw(st.floats(min_value=-1e5, max_value=1e5))
    ymin = draw(st.floats(min_value=-1e5, max_value=1e5))
    res = draw(resolutions | st.floats(min_value=0.01, max_value=1000.0))
    ext = dict(xmax=xmin + 40 * res, ymax=ymin + 30 * res, resolution=res)
    return (
        GridSpec(xmin, ymin, square=True, **ext),
        GridSpec(xmin, ymin, square=False, **ext),
    )


def _ulps(v, n):
    return float(np.nextafter(v, np.inf if n > 0 else -np.inf)) if n else v


@st.composite
def _grid_points(draw, sq, hx):
    """Free points plus tile-edge floats (±1 ulp): square gridline
    crossings, and the midpoints / triple points between adjacent hex
    centres where cube rounding ties."""
    res = sq.resolution
    free = st.tuples(
        st.floats(min_value=sq.xmin - res, max_value=sq.xmax + res),
        st.floats(min_value=sq.ymin - res, max_value=sq.ymax + res),
    )
    pts = draw(st.lists(free, max_size=20))
    ulp = st.integers(min_value=-1, max_value=1)
    for _ in range(draw(st.integers(min_value=1, max_value=20))):
        i, j = draw(st.integers(-2, 42)), draw(st.integers(-2, 32))
        pts.append((sq.xmin + i * res, sq.ymin + j * res))
    for _ in range(draw(st.integers(min_value=1, max_value=20))):
        q, r = draw(st.integers(-2, 42)), draw(st.integers(-2, 32))
        ring = [(0, 0), (0, 1), (-1, 1)][: draw(st.integers(2, 3))]
        ids = grid.pack(
            grid.MODE_HEX, 0,
            np.array([r + dr for dr, _ in ring]), np.array([q + dq for _, dq in ring]),
        )
        cx, cy = grid.centroid(ids, hx)
        pts.append((float(cx.mean()), float(cy.mean())))
    return [(_ulps(x, draw(ulp)), _ulps(y, draw(ulp))) for x, y in pts]


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.int64)


@_spark_settings
@given(data=st.data(), grids=_grid_pairs())
def test_cell_id_expr_matches_numpy_encode(spark, data, grids):
    """expressions.cell_id_sql (the JVM path every raster runs) equals
    grid.encode bit for bit, square and hex, at tile-edge floats."""
    sq, hx = grids
    pts = data.draw(_grid_points(sq, hx))
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x double, y double"
    )
    got = df.select(
        "i",
        F.expr(X.cell_id_sql("`x`", "`y`", sq)).alias("sq"),
        F.expr(X.cell_id_sql("`x`", "`y`", hx)).alias("hx"),
    ).orderBy("i").toPandas()
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    np.testing.assert_array_equal(got["sq"].to_numpy(np.int64), grid.encode(x, y, sq))
    np.testing.assert_array_equal(got["hx"].to_numpy(np.int64), grid.encode(x, y, hx))


@_spark_settings
@given(
    grids=_grid_pairs(),
    rowcol=st.lists(
        st.tuples(
            st.integers(min_value=-(2**26), max_value=2**26),
            st.integers(min_value=-(2**26), max_value=2**26),
        )
        | st.tuples(st.integers(-2, 42), st.integers(-2, 42)),
        min_size=1,
        max_size=40,
    ),
)
def test_centroid_expr_matches_numpy_centroid(spark, grids, rowcol):
    """expressions.centroid_sql equals grid.centroid bit for bit, square
    and hex, over the full packed axis range."""
    sq, hx = grids
    row = np.array([rc[0] for rc in rowcol])
    col = np.array([rc[1] for rc in rowcol])
    ids = {
        spec: grid.pack(spec.mode, spec.level, row, col) for spec in (sq, hx)
    }
    df = spark.createDataFrame(
        [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(ids[sq], ids[hx]))],
        "i long, sq long, hx long",
    )
    cols = []
    for name, spec in (("sq", sq), ("hx", hx)):
        cx, cy = X.centroid_sql(X.ident(name), spec)
        cols += [F.expr(cx).alias(f"{name}_cx"), F.expr(cy).alias(f"{name}_cy")]
    got = df.select("i", *cols).orderBy("i").toPandas()
    for name, spec in (("sq", sq), ("hx", hx)):
        cx, cy = grid.centroid(ids[spec], spec)
        np.testing.assert_array_equal(_bits(got[f"{name}_cx"]), _bits(cx))
        np.testing.assert_array_equal(_bits(got[f"{name}_cy"]), _bits(cy))


# ---------------------------------------------------------------------------
# polygon covers: the vectorized batch cover == the per-ring cover, and both
# are complete


@st.composite
def _ring_batches(draw, sq, hx):
    """1-4 rings of 3-8 vertices (open or closed) drawn from free points and
    tile-edge floats ±1 ulp, plus candidate interior points from the same
    pool."""
    pool = draw(_grid_points(sq, hx))
    vertex = st.sampled_from(pool)
    rings = []
    for _ in range(draw(st.integers(min_value=1, max_value=4))):
        ring = draw(st.lists(vertex, min_size=3, max_size=8))
        if draw(st.booleans()):
            ring.append(ring[0])
        rings.append(np.array(ring, dtype=np.float64))
    return rings, pool


@settings(max_examples=200, deadline=None)
@given(
    data=st.data(),
    grids=_grid_pairs(),
    seed=st.integers(0, 2**32 - 1),
    budget=st.one_of(st.just(1), st.integers(2, 4096), st.just(1 << 20)),
)
def test_covering_cells_batch_matches_per_ring_and_is_complete(data, grids, seed, budget):
    """covering_cells_batch (the polygon-corpus cover kernel) gives each
    ring the same cell set as covering_cells on the closed ring, and every
    ring vertex and every sampled interior point has its grid.encode tile in
    that cover — square and hex, open and closed rings, vertices on tile
    edges ±1 ulp. The vector entry points' grouped cover
    (``vector._ring_covers``), at any group budget down to one ring per
    group, gives each ring covering_cells' cells in covering_cells' order."""
    rings, pool = data.draw(_ring_batches(*grids))
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    offs = np.cumsum(lens) - lens
    flat = np.concatenate(rings)
    rng = np.random.default_rng(seed)
    for spec in grids:
        ridx, cells = grid.covering_cells_batch(flat[:, 0], flat[:, 1], offs, lens, spec)
        with mock.patch.object(vector, "_COVER_BUDGET", budget):
            groups = list(
                vector._ring_covers(
                    vector._valid_rings([r[:, 0] for r in rings], [r[:, 1] for r in rings]),
                    spec,
                    cap=2**62,
                )
            )
        assert np.concatenate([g.sel for g, _, _ in groups]).tolist() == list(range(len(rings)))
        if budget == 1:
            assert all(len(g.sel) == 1 for g, _, _ in groups)
        grouped = {
            int(g.sel[j]): gc[gr == j] for g, gr, gc in groups for j in range(len(g.sel))
        }
        for i, ring in enumerate(rings):
            closed = ring if (ring[0] == ring[-1]).all() else np.vstack([ring, ring[:1]])
            per_ring = grid.covering_cells(closed, spec)
            cover = set(cells[ridx == i].tolist())
            assert cover == set(per_ring.tolist())
            np.testing.assert_array_equal(grouped[i], per_ring)
            lo, hi = ring.min(axis=0), ring.max(axis=0)
            probe = np.vstack([np.array(pool), rng.uniform(lo, hi, (64, 2))])
            inside = grid.point_in_polygon(probe[:, 0], probe[:, 1], closed)
            pts = np.vstack([ring, probe[inside]])
            missing = set(grid.encode(pts[:, 0], pts[:, 1], spec).tolist()) - cover
            assert not missing, (spec, ring, missing)
