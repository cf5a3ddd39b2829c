"""Column-expression cell encoders — the JVM-side hot path.

The same closed-form math as :mod:`seraster_spark.grid`, expressed as pure
``pyspark.sql.functions`` Column arithmetic so tile assignment runs inside
whole-stage codegen with **zero Python boundary** on the 100 TB path. The
numpy kernels in :mod:`seraster_spark.grid` are the parity oracle: property
tests assert both agree bit-for-bit, square and hex.

Replaces the reference's materialize-grid + st_intersects spatial join
(``R/main.R:118,132-136``) with O(1) arithmetic per point.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .grid import SQRT3, GridSpec

_OFF = 1 << 27
_AXIS_BITS = 28


def _pack(mode: int, level: int, row: Column, col: Column) -> Column:
    # mask to the 28-bit axis field exactly like grid.pack — without it,
    # out-of-range coordinates bleed into the level/mode bits here while
    # the numpy path wraps within the axis field, breaking the bit-for-bit
    # parity contract between the two encoders
    mask = F.lit((1 << _AXIS_BITS) - 1)
    r = (row + F.lit(_OFF)).cast("long").bitwiseAND(mask)
    c = (col + F.lit(_OFF)).cast("long").bitwiseAND(mask)
    return (
        F.lit(mode << 62).cast("long")
        .bitwiseOR(F.lit((level & 0x3F) << 56).cast("long"))
        .bitwiseOR(F.shiftleft(r, _AXIS_BITS))
        .bitwiseOR(c)
    )


def square_rowcol_expr(x: Column, y: Column, spec: GridSpec) -> tuple[Column, Column]:
    res = F.lit(spec.resolution)
    dx = x - F.lit(spec.xmin)
    dy = y - F.lit(spec.ymin)
    col = F.floor(dx / res).cast("long")
    row = F.floor(dy / res).cast("long")
    # boundary tie-break: interior gridline → lower cell (R/main.R:134-135)
    col = F.when((dx == col.cast("double") * res) & (col > 0), col - 1).otherwise(col)
    row = F.when((dy == row.cast("double") * res) & (row > 0), row - 1).otherwise(row)
    return row, col


def square_cell_id(x: Column, y: Column, spec: GridSpec) -> Column:
    row, col = square_rowcol_expr(x, y, spec)
    return _pack(0, spec.level, row, col)


def _half_up(v: Column) -> Column:
    return F.floor(v + F.lit(0.5))


def hex_cell_id(x: Column, y: Column, spec: GridSpec) -> Column:
    """Pointy-top axial hex binning with cube rounding — all Column math
    (same algorithm as grid.hex_encode; same half-up tie convention)."""
    s = spec.resolution / SQRT3
    px = (x - F.lit(spec.xmin)) / F.lit(s)
    py = (y - F.lit(spec.ymin)) / F.lit(s)
    qf = F.lit(SQRT3 / 3.0) * px - F.lit(1.0 / 3.0) * py
    rf = F.lit(2.0 / 3.0) * py
    sf = -qf - rf
    rq = _half_up(qf).cast("double")
    rr = _half_up(rf).cast("double")
    rs = _half_up(sf).cast("double")
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, -rr - rs).otherwise(rq).cast("long")
    r = F.when(fix_r, -rq - rs).otherwise(rr).cast("long")
    # re-derive q with corrected r where fix_q used original rr/rs (already correct)
    return _pack(1, spec.level, r, q)


def cell_id_expr(x: Column, y: Column, spec: GridSpec) -> Column:
    return square_cell_id(x, y, spec) if spec.square else hex_cell_id(x, y, spec)


def unpack_rowcol(cell_id: Column) -> tuple[Column, Column]:
    row = F.shiftrightunsigned(cell_id, _AXIS_BITS).bitwiseAND(F.lit((1 << _AXIS_BITS) - 1)) - F.lit(_OFF)
    col = cell_id.bitwiseAND(F.lit((1 << _AXIS_BITS) - 1)) - F.lit(_OFF)
    return row, col


def centroid_expr(cell_id: Column, spec: GridSpec) -> tuple[Column, Column]:
    row, col = unpack_rowcol(cell_id)
    if spec.square:
        cx = F.lit(spec.xmin) + (col.cast("double") + F.lit(0.5)) * F.lit(spec.resolution)
        cy = F.lit(spec.ymin) + (row.cast("double") + F.lit(0.5)) * F.lit(spec.resolution)
    else:
        s = spec.resolution / SQRT3
        cx = F.lit(spec.xmin) + F.lit(s * SQRT3) * (col.cast("double") + row.cast("double") / F.lit(2.0))
        cy = F.lit(spec.ymin) + F.lit(s * 1.5) * row.cast("double")
    return cx, cy


def grid_index_expr(cell_id: Column, spec: GridSpec) -> Column:
    """Deterministic dense ordering key: row-major over (row, col) for squares
    (matches the reference's grid-order pixel numbering, R/main.R:139,175);
    (r, q)-lexicographic for hexes."""
    row, col = unpack_rowcol(cell_id)
    if spec.square:
        return row * F.lit(spec.ncols) + col
    return (row + F.lit(_OFF)) * F.lit(1 << _AXIS_BITS) + (col + F.lit(_OFF))


def morton_expr(row: Column, col: Column, bits: int = 28) -> Column:
    """Morton (Z-order) code: interleave the low ``bits`` of row and col
    into one long — points close on the plane get close codes, so sorting
    or range-partitioning tile/point data by it clusters each output file
    into a compact bbox. That is the Z-ORDER-clustering practice that makes
    parquet min/max data-skipping effective for 2D predicates at corpus
    scale (a lat/lon sort clusters only one axis). Inputs must be
    non-negative (grid indexes; add an offset for signed axial hex coords).

    Pure bit arithmetic unrolled into a codegen-friendly expression tree;
    an SQL engine reproduces it bit-for-bit from the same shift/mask terms
    (see driver_queries._sql_morton, generated from this same loop).
    """
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(col.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(row.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out
