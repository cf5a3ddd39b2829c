"""Pure-numpy planar grid kernels: square + hexagonal cell encoding,
centroids, k-ring neighborhoods, and tile polygonization.

This module is the engine's core algorithmic divergence from the reference
(JEFworks-Lab/SEraster): instead of materializing a grid of polygons and
running a spatial-index join (reference ``R/main.R:118`` ``st_make_grid`` +
``R/main.R:132-136`` ``st_intersects``), every point is assigned its tile by
**closed-form O(1) integer arithmetic** — the H3-style trick that turns a
spatial join into an equi-key ``groupBy``. No Spark imports here; everything
is vectorized numpy so it is unit-testable standalone and Arrow-batchable
inside pandas UDFs.

Conventions (pinned; SURVEY.md §7.5):

* Grid origin is the padded bbox corner ``(xmin, ymin)`` (reference pad
  formula ``floor(min - res/2)`` / ``ceil(max + res/2)``, ``R/main.R:346-351``).
* ``resolution`` for squares = side length (``R/main.R:25-28``); for hexagons
  = distance between opposite edges = 2 × apothem (``R/main.R:26-28``).
* Square tiles are indexed row-major from the bottom-left:
  ``index = row * ncols + col`` (0-based internally; pixel names are
  1-based ``pixel{index+1}`` like the reference's ``pixel{i}``,
  ``R/main.R:129,175``).
* Boundary tie-break: the reference assigns a point on a shared edge to the
  *first* (lowest-index) intersecting closed polygon (``R/main.R:134-135``).
  With row-major indexing that is the cell with the lower row/col, so points
  exactly on an interior gridline are pushed to the lower cell
  (``x == xmin + k*res, k>0`` → column ``k-1``).
* Hexagons are pointy-top, axial coordinates (q, r), hex size
  ``s = resolution / sqrt(3)`` (so the apothem is ``resolution/2``), grid
  anchored so hex (0,0) is centered at ``(xmin, ymin)``. Rounding is
  cube-rounding with ``floor(x + 0.5)`` half-up convention so a SQL oracle
  can reproduce it exactly.

Cell ids are packed into a single int64:
``cell_id = (mode << 62) | (level << 56) | (row+OFF) << 28 | (col+OFF)``
where mode 0=square 1=hex, ``level`` is a user-chosen resolution level tag
(0..63), and OFF=2^27 biases signed axial coords into non-negative space.
28 bits per axis → ±134M cells per axis per level, far beyond any realistic
extent/resolution combination at 100 TB scale.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

SQRT3 = math.sqrt(3.0)

_OFF = 1 << 27  # bias for signed axial coords
_AXIS_BITS = 28
_AXIS_MASK = (1 << _AXIS_BITS) - 1

MODE_SQUARE = 0
MODE_HEX = 1


@dataclass(frozen=True)
class GridSpec:
    """Broadcastable grid parameters — computed once per job from the global
    (common) bbox (reference common-bbox semantics ``R/main.R:294-308``)."""

    xmin: float
    ymin: float
    xmax: float
    ymax: float
    resolution: float
    square: bool = True
    level: int = 0  # resolution-level tag packed into the cell id

    @property
    def mode(self) -> int:
        return MODE_SQUARE if self.square else MODE_HEX

    @property
    def ncols(self) -> int:
        return max(1, int(math.ceil((self.xmax - self.xmin) / self.resolution)))

    @property
    def nrows(self) -> int:
        return max(1, int(math.ceil((self.ymax - self.ymin) / self.resolution)))


# ---------------------------------------------------------------------------
# id packing


def pack(mode: int, level: int, row: np.ndarray, col: np.ndarray) -> np.ndarray:
    """Pack (mode, level, row, col) into int64 cell ids. row/col may be signed
    (hex axial); they are biased by 2^27."""
    r = (row.astype(np.int64) + _OFF) & _AXIS_MASK
    c = (col.astype(np.int64) + _OFF) & _AXIS_MASK
    return (
        (np.int64(mode) << np.int64(62))
        | (np.int64(level & 0x3F) << np.int64(56))
        | (r << np.int64(_AXIS_BITS))
        | c
    )


def unpack(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`pack` → (mode, level, row, col)."""
    cid = np.asarray(cell_id, dtype=np.int64)
    mode = (cid >> np.int64(62)) & np.int64(0x1)
    level = (cid >> np.int64(56)) & np.int64(0x3F)
    row = ((cid >> np.int64(_AXIS_BITS)) & np.int64(_AXIS_MASK)) - _OFF
    col = (cid & np.int64(_AXIS_MASK)) - _OFF
    return mode, level, row, col


# ---------------------------------------------------------------------------
# square grid


def square_rowcol(x: np.ndarray, y: np.ndarray, spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form square binning with the reference's lowest-index
    boundary tie-break (``R/main.R:134-135``; SURVEY.md §7.5.1)."""
    res = spec.resolution
    dx = np.asarray(x, dtype=np.float64) - spec.xmin
    dy = np.asarray(y, dtype=np.float64) - spec.ymin
    col = np.floor(dx / res).astype(np.int64)
    row = np.floor(dy / res).astype(np.int64)
    # interior gridline → lower cell ("first intersecting polygon")
    on_x = (dx == col * res) & (col > 0)
    on_y = (dy == row * res) & (row > 0)
    col = col - on_x.astype(np.int64)
    row = row - on_y.astype(np.int64)
    return row, col


def square_encode(x: np.ndarray, y: np.ndarray, spec: GridSpec) -> np.ndarray:
    row, col = square_rowcol(x, y, spec)
    return pack(MODE_SQUARE, spec.level, row, col)


def square_index(cell_id: np.ndarray, spec: GridSpec) -> np.ndarray:
    """Row-major 0-based grid index (pixel ordering, ``R/main.R:139,175``)."""
    _, _, row, col = unpack(cell_id)
    return row * spec.ncols + col


def square_centroid(cell_id: np.ndarray, spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    _, _, row, col = unpack(cell_id)
    cx = spec.xmin + (col.astype(np.float64) + 0.5) * spec.resolution
    cy = spec.ymin + (row.astype(np.float64) + 0.5) * spec.resolution
    return cx, cy


# ---------------------------------------------------------------------------
# hexagonal grid (pointy-top, axial coords)


def _half_up(v: np.ndarray) -> np.ndarray:
    """Round half away from -inf: floor(v + 0.5). Matches the SQL oracle's
    FLOOR(v + 0.5) so Spark and DuckDB agree bit-for-bit."""
    return np.floor(v + 0.5)


def hex_axial_frac(x: np.ndarray, y: np.ndarray, spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    """Fractional axial (q, r) for pointy-top hexes of size s = res/sqrt(3)."""
    s = spec.resolution / SQRT3
    px = (np.asarray(x, dtype=np.float64) - spec.xmin) / s
    py = (np.asarray(y, dtype=np.float64) - spec.ymin) / s
    q = (SQRT3 / 3.0) * px - (1.0 / 3.0) * py
    r = (2.0 / 3.0) * py
    return q, r


def hex_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cube-round fractional axial coords to the containing hexagon
    (classic cube-rounding; half-up tie convention shared with the oracle)."""
    sf = -qf - rf
    rq = _half_up(qf)
    rr = _half_up(rf)
    rs = _half_up(sf)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    rq = np.where(fix_q, -rr - rs, rq)
    rr = np.where(fix_r, -rq - rs, rr)
    return rq.astype(np.int64), rr.astype(np.int64)


def hex_encode(x: np.ndarray, y: np.ndarray, spec: GridSpec) -> np.ndarray:
    qf, rf = hex_axial_frac(x, y, spec)
    q, r = hex_round(qf, rf)
    # pack: row slot carries r, col slot carries q
    return pack(MODE_HEX, spec.level, r, q)


def hex_centroid(cell_id: np.ndarray, spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    _, _, r, q = unpack(cell_id)
    s = spec.resolution / SQRT3
    cx = spec.xmin + s * SQRT3 * (q.astype(np.float64) + r.astype(np.float64) / 2.0)
    cy = spec.ymin + s * 1.5 * r.astype(np.float64)
    return cx, cy


def hex_index(cell_id: np.ndarray, spec: GridSpec) -> np.ndarray:
    """Deterministic dense ordering for hex tiles: row-major over (r, q).
    The reference's hex pixel numbering follows sf's grid order, which we do
    not replicate (SURVEY.md §7.5.3) — only ordering determinism matters."""
    _, _, r, q = unpack(cell_id)
    return (r + _OFF) * (1 << _AXIS_BITS) + (q + _OFF)


# ---------------------------------------------------------------------------
# unified front-ends


def encode(x: np.ndarray, y: np.ndarray, spec: GridSpec) -> np.ndarray:
    return square_encode(x, y, spec) if spec.square else hex_encode(x, y, spec)


def centroid(cell_id: np.ndarray, spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    return square_centroid(cell_id, spec) if spec.square else hex_centroid(cell_id, spec)


def grid_index(cell_id: np.ndarray, spec: GridSpec) -> np.ndarray:
    return square_index(cell_id, spec) if spec.square else hex_index(cell_id, spec)


# ---------------------------------------------------------------------------
# k-ring neighborhoods (SURVEY.md §2.7; engine-only — not in the reference)


def square_kring(cell_id: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of each input cell.
    Returns shape (n, (2k+1)^2) int64."""
    mode, level, row, col = unpack(cell_id)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dr, dc = np.meshgrid(offs, offs, indexing="ij")
    dr = dr.ravel()
    dc = dc.ravel()
    rows = row[:, None] + dr[None, :]
    cols = col[:, None] + dc[None, :]
    lv = int(level[0]) if len(level) else 0
    return pack(MODE_SQUARE, lv, rows, cols)


def hex_kring(cell_id: np.ndarray, k: int) -> np.ndarray:
    """All hexes within hex-grid distance k. Returns (n, 1+3k(k+1)) int64."""
    mode, level, r, q = unpack(cell_id)
    dqs, drs = [], []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            dqs.append(dq)
            drs.append(dr)
    dq = np.asarray(dqs, dtype=np.int64)
    dr = np.asarray(drs, dtype=np.int64)
    rows = r[:, None] + dr[None, :]
    cols = q[:, None] + dq[None, :]
    lv = int(level[0]) if len(level) else 0
    return pack(MODE_HEX, lv, rows, cols)


def kring(cell_id: np.ndarray, k: int, spec: GridSpec) -> np.ndarray:
    return square_kring(cell_id, k) if spec.square else hex_kring(cell_id, k)


# ---------------------------------------------------------------------------
# raster → vector (polygonize; reference keeps sfc_POLYGON geometry,
# R/main.R:191-193 — we emit WKT on demand instead of materializing geometry)


def polygon_vertices(cell_id: np.ndarray, spec: GridSpec) -> np.ndarray:
    """Vertex array per tile: (n, 5, 2) for squares (closed ring) or
    (n, 7, 2) for hexagons."""
    if spec.square:
        _, _, row, col = unpack(cell_id)
        x0 = spec.xmin + col.astype(np.float64) * spec.resolution
        y0 = spec.ymin + row.astype(np.float64) * spec.resolution
        x1 = x0 + spec.resolution
        y1 = y0 + spec.resolution
        verts = np.stack(
            [
                np.stack([x0, y0], axis=1),
                np.stack([x1, y0], axis=1),
                np.stack([x1, y1], axis=1),
                np.stack([x0, y1], axis=1),
                np.stack([x0, y0], axis=1),
            ],
            axis=1,
        )
        return verts
    cx, cy = hex_centroid(cell_id, spec)
    s = spec.resolution / SQRT3
    angles = np.deg2rad(np.array([30, 90, 150, 210, 270, 330, 30], dtype=np.float64))
    vx = cx[:, None] + s * np.cos(angles)[None, :]
    vy = cy[:, None] + s * np.sin(angles)[None, :]
    return np.stack([vx, vy], axis=2)


def ring_area(ring: np.ndarray) -> float:
    """Shoelace area of a simple ring (open or closed)."""
    p = np.asarray(ring, dtype=np.float64)
    if len(p) >= 2 and (p[0] == p[-1]).all():
        p = p[:-1]
    if len(p) < 3:
        return 0.0
    x, y = p[:, 0], p[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip a simple polygon ``subject`` against a
    CONVEX CCW window ``clip`` (rings may be open or closed). Returns the
    clipped ring (possibly empty). For rectilinear inputs on
    representable coordinates every intersection parameter and point is
    computed exactly (see zonal_weighted's oracle notes)."""
    out = np.asarray(subject, dtype=np.float64)
    if len(out) >= 2 and (out[0] == out[-1]).all():
        out = out[:-1]
    cl = np.asarray(clip, dtype=np.float64)
    if len(cl) >= 2 and (cl[0] == cl[-1]).all():
        cl = cl[:-1]
    for i in range(len(cl)):
        if len(out) == 0:
            break
        a, b = cl[i], cl[(i + 1) % len(cl)]
        # signed area: >= 0 means on/left of a->b = inside the CCW window
        d = (b[0] - a[0]) * (out[:, 1] - a[1]) - (b[1] - a[1]) * (out[:, 0] - a[0])
        res: list[np.ndarray] = []
        n = len(out)
        for j in range(n):
            k = (j + 1) % n
            dc, dn = d[j], d[k]
            cur, nxt = out[j], out[k]
            if dc >= 0.0:
                res.append(cur)
                if dn < 0.0:
                    t = dc / (dc - dn)
                    res.append(cur + t * (nxt - cur))
            elif dn >= 0.0:
                t = dc / (dc - dn)
                res.append(cur + t * (nxt - cur))
        out = np.asarray(res, dtype=np.float64) if res else np.zeros((0, 2))
    return out


def tile_clip_areas(
    cell_id: np.ndarray, ridx: np.ndarray, rings: list[np.ndarray], spec: GridSpec
) -> np.ndarray:
    """area(tile ∩ ring) per (tile, ring) pair: ring ``rings[ridx[i]]``
    clipped against the (convex) polygon of tile ``cell_id[i]`` — square
    and hex grids alike — then shoelace."""
    verts = polygon_vertices(np.asarray(cell_id, dtype=np.int64), spec)
    out = np.empty(len(verts), dtype=np.float64)
    for i, r in enumerate(np.asarray(ridx, dtype=np.int64).tolist()):
        out[i] = ring_area(clip_polygon_convex(rings[r], verts[i]))
    return out


def polygon_wkt(cell_id: np.ndarray, spec: GridSpec, decimals: int = 6) -> list[str]:
    """WKT POLYGON string per tile (closed ring, fixed decimal formatting so
    output is byte-deterministic)."""
    verts = polygon_vertices(cell_id, spec)
    fmt = f"%.{decimals}f %.{decimals}f"
    out = []
    for ring in verts:
        pts = ", ".join(fmt % (vx, vy) for vx, vy in ring)
        out.append(f"POLYGON (({pts}))")
    return out


# ---------------------------------------------------------------------------
# vector → raster (covering tiles of a polygon) + point-in-polygon


def point_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting PIP for a single polygon ring (k, 2) over many
    points. Boundary points count as inside (matches closed polygons in the
    reference's st_intersects, ``R/main.R:132-136``)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    pxc = px[:, None]
    pyc = py[:, None]
    # edge-inclusion: point lies on segment
    cross = (x1 - x0) * (pyc - y0) - (y1 - y0) * (pxc - x0)
    on_seg = (
        (cross == 0)
        & (pxc >= np.minimum(x0, x1))
        & (pxc <= np.maximum(x0, x1))
        & (pyc >= np.minimum(y0, y1))
        & (pyc <= np.maximum(y0, y1))
    ).any(axis=1)
    cond = (y0 > pyc) != (y1 > pyc)
    # xint overflows only on an edge off the scanline, which ``cond`` masks
    # out: a straddling edge has |py - y0| <= |y1 - y0|
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
    crossings = (cond & (pxc < xint)).sum(axis=1)
    return ((crossings % 2) == 1) | on_seg


def point_in_polygons_grouped(
    px: np.ndarray, py: np.ndarray, codes: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Ray-casting PIP where each point tests against ITS OWN ring:
    ``codes[i]`` indexes into ``rings`` (closed (k, 2) arrays, k may
    vary). Vectorized (points × edges) passes over runs of points
    (:func:`_edge_chunks`) — rings are padded to a common edge count by
    repeating their last vertex, which is decision-identical to :func:`point_in_polygon` on the unpadded ring
    (a zero-length edge has ``y0 > py != y1 > py`` always False so it
    adds no crossing, and its on-segment test only fires when the point
    EQUALS the repeated vertex — already on the real ring). Boundary
    points count as inside, matching :func:`point_in_polygon` exactly."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    codes = np.asarray(codes, dtype=np.int64)
    E = max(len(r) for r in rings)
    n_u = len(rings)
    pad = np.empty((n_u, E, 2), dtype=np.float64)
    for i, r in enumerate(rings):
        pad[i, : len(r)] = r
        if len(r) < E:
            pad[i, len(r) :] = r[-1]
    out = np.empty(len(px), dtype=bool)
    for s, *edges in _edge_chunks(pad, codes):
        out[s] = _pip_on_pad(px[s], py[s], *edges)
    return out


def point_polygon_distance(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Min Euclidean distance from each point to the polygon boundary
    (vectorized point-segment distance over all edges)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    ex = (ring[1:, 0] - ring[:-1, 0])[None, :]
    ey = (ring[1:, 1] - ring[:-1, 1])[None, :]
    ee = ex * ex + ey * ey
    # t overflows only on a near-degenerate edge far from the probe, where
    # the clip to [0, 1] below yields the (correct) endpoint distance
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = ((px - x0) * ex + (py - y0) * ey) / ee
    t = np.nan_to_num(np.clip(t, 0.0, 1.0))
    qx = x0 + t * ex
    qy = y0 + t * ey
    return np.sqrt((px - qx) ** 2 + (py - qy) ** 2).min(axis=1)


def _pad_rings(
    flat_x: np.ndarray, flat_y: np.ndarray, offs: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """(B, E, 2) padded CLOSED ring array from ragged vertex storage: per
    ring, its vertices, then v0 (closure), then v0-padding to the common
    length. Decision-identical to each individually-closed ring for
    ray-cast PIP and boundary distance: a zero-length padding edge never
    straddles a scanline (adds no crossing), its on-segment test only fires
    when the point equals the repeated vertex (already on the real ring),
    and its point-distance equals the distance to that vertex (already an
    endpoint of a real edge). Rings whose input is already closed get their
    last vertex repeated instead — same argument."""
    E = int(lens.max()) + 1
    J = np.arange(E, dtype=np.int64)
    IDX = np.where(J[None, :] < lens[:, None], J[None, :], 0)
    gather = offs[:, None] + IDX
    return np.stack([flat_x[gather], flat_y[gather]], axis=2)


def _edge_chunks(pad: np.ndarray, codes: np.ndarray):
    """``(points, x0, y0, x1, y1)`` per run of points, ``points`` a slice
    and the rest their rings' gathered edges from the padded ``(B, E, 2)``
    ring array (point ``i`` tests ring ``codes[i]``). Runs are short enough
    that each points × edges temporary stays near 8 MiB — a batch of
    points against a detailed ring would otherwise allocate GBs — and a
    single ring's ``(1, E - 1)`` edges broadcast instead of being gathered.
    Every decision is per point, so neither changes a result."""
    step = max(1, (1 << 20) // (pad.shape[1] - 1))
    for s in range(0, len(codes), step):
        c = slice(0, 1) if len(pad) == 1 else codes[s : s + step]
        yield slice(s, s + step), pad[c, :-1, 0], pad[c, :-1, 1], pad[c, 1:, 0], pad[c, 1:, 1]


def _pip_on_pad(
    px: np.ndarray,
    py: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> np.ndarray:
    """Ray-cast PIP given per-point gathered edge arrays (n, E): the shared
    arithmetic of :func:`point_in_polygon` (same expressions, same order —
    bit-decision-identical)."""
    pxc = px[:, None]
    pyc = py[:, None]
    cross = (x1 - x0) * (pyc - y0) - (y1 - y0) * (pxc - x0)
    on_seg = (
        (cross == 0)
        & (pxc >= np.minimum(x0, x1))
        & (pxc <= np.maximum(x0, x1))
        & (pyc >= np.minimum(y0, y1))
        & (pyc <= np.maximum(y0, y1))
    ).any(axis=1)
    cond = (y0 > pyc) != (y1 > pyc)
    # xint overflows only on an edge off the scanline, which ``cond`` masks
    # out: a straddling edge has |py - y0| <= |y1 - y0|
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
    crossings = (cond & (pxc < xint)).sum(axis=1)
    return ((crossings % 2) == 1) | on_seg


def _dist_on_pad(
    px: np.ndarray,
    py: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> np.ndarray:
    """Min point→boundary distance given gathered edge arrays (n, E) — the
    :func:`point_polygon_distance` arithmetic; zero-length padding edges
    yield the distance to their (real) vertex, which never lowers the min."""
    pxc = px[:, None]
    pyc = py[:, None]
    ex = x1 - x0
    ey = y1 - y0
    ee = ex * ex + ey * ey
    # t overflows only on a near-degenerate edge far from the probe, where
    # the clip to [0, 1] below yields the (correct) endpoint distance
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = ((pxc - x0) * ex + (pyc - y0) * ey) / ee
    t = np.nan_to_num(np.clip(t, 0.0, 1.0))
    qx = x0 + t * ex
    qy = y0 + t * ey
    return np.sqrt((pxc - qx) ** 2 + (pyc - qy) ** 2).min(axis=1)


def _near_radius(spec: GridSpec, bx0, bx1, by0, by1):
    """Cover distance bound for rings with bbox ``[bx0, bx1] × [by0, by1]``
    (scalars or per-ring arrays): the tile circumradius plus the float
    error of the centroid, encode and distance arithmetic, a few ulps of
    the largest coordinate involved. A bound relative to the circumradius
    alone misses tiles far from the origin: a ring vertex on a tile corner
    at y = 16384 on a res-1.01 grid measured farther than
    circumradius·(1 + 1e-12) from the centroid of the tile it encodes to."""
    circum = (
        spec.resolution * math.sqrt(2.0) / 2.0 if spec.square else spec.resolution / SQRT3
    )
    mag = np.maximum(
        np.maximum(np.abs(bx0), np.abs(bx1)), np.maximum(np.abs(by0), np.abs(by1))
    )
    eps = np.finfo(np.float64).eps
    return circum * (1 + 1e-12) + 64 * eps * (mag + abs(spec.xmin) + abs(spec.ymin))


def box_tiles(
    r0: np.ndarray, r1: np.ndarray, c0: np.ndarray, c1: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every (row, col) of each inclusive index box ``[r0, r1] × [c0, c1]``,
    box by box and row-major within a box: ``(box index, row, col)``."""
    ncc = c1 - c0 + 1
    counts = (r1 - r0 + 1) * ncc
    box = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    local = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    return box, r0[box] + local // ncc[box], c0[box] + local % ncc[box]


def covering_cells_batch(
    flat_x: np.ndarray,
    flat_y: np.ndarray,
    offs: np.ndarray,
    lens: np.ndarray,
    spec: GridSpec,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized :func:`covering_cells` over MANY rings at once (ragged
    storage: ``flat_x``/``flat_y`` concatenated vertices, ``offs``/``lens``
    per ring). Returns ``(ring_idx, cell_id)`` candidate pairs — the same
    cell set per ring as calling ``covering_cells`` on each closed ring
    (identical corner-encode bounds, centroid PIP and boundary-distance
    arithmetic; see :func:`_pad_rings` for why padding changes no
    decision), without the per-ring Python/numpy dispatch overhead that
    dominated the polygon-corpus cover kernel. Pairs come ring by ring,
    each ring's cells ascending by id like ``covering_cells``' (candidates
    are generated row-major, which is packed-id order)."""
    B = len(offs)
    bx0 = np.minimum.reduceat(flat_x, offs)
    bx1 = np.maximum.reduceat(flat_x, offs)
    by0 = np.minimum.reduceat(flat_y, offs)
    by1 = np.maximum.reduceat(flat_y, offs)
    cx4 = np.concatenate([bx0, bx1, bx0, bx1])
    cy4 = np.concatenate([by0, by1, by1, by0])
    _, _, r4, c4 = unpack(encode(cx4, cy4, spec))
    r4 = r4.reshape(4, B)
    c4 = c4.reshape(4, B)
    r0 = r4.min(axis=0) - 1
    r1 = r4.max(axis=0) + 1
    c0 = c4.min(axis=0) - 1
    c1 = c4.max(axis=0) + 1
    poly, rr, cc = box_tiles(r0, r1, c0, c1)
    cand = pack(spec.mode, spec.level, rr, cc)
    cxx, cyy = centroid(cand, spec)
    near = _near_radius(spec, bx0, bx1, by0, by1)[poly]
    m = np.empty(len(cand), dtype=bool)
    for s, *edges in _edge_chunks(_pad_rings(flat_x, flat_y, offs, lens), poly):
        cx, cy = cxx[s], cyy[s]
        m[s] = _pip_on_pad(cx, cy, *edges) | (_dist_on_pad(cx, cy, *edges) <= near[s])
    return poly[m], cand[m]


def covering_cells(ring: np.ndarray, spec: GridSpec) -> np.ndarray:
    """Vector→raster: guaranteed-conservative cover of the polygon.

    A cell intersecting the polygon has every point (incl. its centroid)
    within the cell circumradius of some polygon point, so keeping cells
    whose centroid is inside OR within circumradius of the boundary is a
    provable superset of all intersecting cells — and tight (over-covers by
    at most one circumradius band around the boundary)."""
    bx0, by0 = ring[:, 0].min(), ring[:, 1].min()
    bx1, by1 = ring[:, 0].max(), ring[:, 1].max()
    corners = encode(
        np.array([bx0, bx1, bx0, bx1]), np.array([by0, by1, by1, by0]), spec
    )
    _, _, rows, cols = unpack(corners)
    r0, r1 = rows.min() - 1, rows.max() + 1
    c0, c1 = cols.min() - 1, cols.max() + 1
    rr, cc = np.meshgrid(
        np.arange(r0, r1 + 1, dtype=np.int64),
        np.arange(c0, c1 + 1, dtype=np.int64),
        indexing="ij",
    )
    cand = pack(spec.mode, spec.level, rr.ravel(), cc.ravel())
    cx, cy = centroid(cand, spec)
    inside = point_in_polygon(cx, cy, ring)
    near = point_polygon_distance(cx, cy, ring) <= _near_radius(spec, bx0, bx1, by0, by1)
    return np.unique(cand[inside | near])
