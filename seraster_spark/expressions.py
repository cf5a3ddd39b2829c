"""Cell encoders as Spark SQL text — the JVM-side hot path.

The same closed-form math as :mod:`seraster_spark.grid`, written as SQL
expression text that a call site wraps in ONE ``F.expr(...)``, so tile
assignment runs inside whole-stage codegen with **zero Python boundary** on
the 100 TB path. The numpy kernels in :mod:`seraster_spark.grid` are the
parity oracle: property tests assert both agree bit-for-bit, square and hex.

Why text and not ``Column`` operators: every ``pyspark.sql.functions`` call
and every ``Column`` operator is one Python→JVM (py4j) round trip. Built
from operators, ``rasterize_cell_type`` made 1328 round trips (1707 for
hex) and spent 150–265 ms on the driver before any job ran — about as long
as running it at benchmark sizes. One SQL string crosses once and parses to
the same analyzed expression tree. Doubles are written as shortest
round-trip ``D`` literals, so the arithmetic is bit-identical.

Arguments and results are SQL text. Pass a column through :func:`ident`,
which quotes a name the way ``F.col(name)`` parses it. Replaces the
reference's materialize-grid + st_intersects spatial join
(``R/main.R:118,132-136``) with O(1) arithmetic per point.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .grid import SQRT3, GridSpec

_OFF = 1 << 27
_AXIS_BITS = 28
_MASK = (1 << _AXIS_BITS) - 1


def _name_parts(name: str) -> list[str]:
    """Split a column name into its parts exactly as ``F.col`` does
    (Spark's ``UnresolvedAttribute.parseAttributeName``): dots separate
    nested fields, backticks quote a part, a doubled backtick escapes one."""
    bad = ValueError(f"syntax error in attribute name: {name!r}")
    parts: list[str] = []
    tmp: list[str] = []
    in_tick = False
    i = 0
    while i < len(name):
        ch = name[i]
        if in_tick:
            if ch == "`":
                if i + 1 < len(name) and name[i + 1] == "`":
                    tmp.append("`")
                    i += 1
                else:
                    in_tick = False
                    if i + 1 < len(name) and name[i + 1] != ".":
                        raise bad
            else:
                tmp.append(ch)
        elif ch == "`":
            if tmp:
                raise bad
            in_tick = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise bad
            parts.append("".join(tmp))
            tmp = []
        else:
            tmp.append(ch)
        i += 1
    if in_tick:
        raise bad
    parts.append("".join(tmp))
    return parts


def quote(part: str) -> str:
    """Backtick-quote one literal name part (a top-level column name as
    ``df.columns`` lists it, or an alias)."""
    return "`" + part.replace("`", "``") + "`"


def ident(name: str) -> str:
    """SQL text for the column ``F.col(name)`` resolves to: every name part
    backtick-quoted, so spaces, keywords and dotted struct paths all
    resolve to the same column."""
    return ".".join(quote(p) for p in _name_parts(name))


def _d(v: float) -> str:
    """Double literal: ``repr`` is the shortest round-trip decimal, and the
    ``D`` suffix keeps SQL from reading it as a DECIMAL. Unary minus binds
    tighter than any binary operator, so the literal needs no parentheses."""
    return f"{float(v)!r}D"


def _arg(v: str) -> str:
    """Parenthesize an argument unless it is a quoted column reference."""
    return v if re.fullmatch(r"`(?:[^`]|``)*`(?:\.`(?:[^`]|``)*`)*", v) else f"({v})"


def pack_sql(mode: int, level: int, row: str, col: str) -> str:
    # mask to the 28-bit axis field exactly like grid.pack — without it,
    # out-of-range coordinates bleed into the level/mode bits here while
    # the numpy path wraps within the axis field, breaking the bit-for-bit
    # parity contract between the two encoders
    r = f"(CAST({_arg(row)} + {_OFF} AS BIGINT) & {_MASK})"
    c = f"(CAST({_arg(col)} + {_OFF} AS BIGINT) & {_MASK})"
    return (
        f"(((CAST({mode << 62} AS BIGINT) | CAST({(level & 0x3F) << 56} AS BIGINT))"
        f" | shiftleft({r}, {_AXIS_BITS})) | {c})"
    )


def square_rowcol_sql(x: str, y: str, spec: GridSpec) -> tuple[str, str]:
    res = _d(spec.resolution)

    def axis(v: str, origin: float) -> str:
        dv = f"({_arg(v)} - {_d(origin)})"
        i = f"CAST(FLOOR({dv} / {res}) AS BIGINT)"
        # boundary tie-break: interior gridline → lower cell (R/main.R:134-135)
        return f"CASE WHEN {dv} = CAST({i} AS DOUBLE) * {res} AND {i} > 0 THEN {i} - 1 ELSE {i} END"

    return axis(y, spec.ymin), axis(x, spec.xmin)


def _hex_axial_sql(x: str, y: str, spec: GridSpec) -> tuple[str, str]:
    """Pointy-top axial hex binning with cube rounding (same algorithm as
    grid.hex_encode; same half-up tie convention) → (r, q)."""
    s = _d(spec.resolution / SQRT3)
    px = f"(({_arg(x)} - {_d(spec.xmin)}) / {s})"
    py = f"(({_arg(y)} - {_d(spec.ymin)}) / {s})"
    qf = f"({_d(SQRT3 / 3.0)} * {px} - {_d(1.0 / 3.0)} * {py})"
    rf = f"({_d(2.0 / 3.0)} * {py})"
    sf = f"(-{qf} - {rf})"

    def half_up(v: str) -> str:
        return f"CAST(FLOOR({v} + {_d(0.5)}) AS DOUBLE)"

    rq, rr, rs = half_up(qf), half_up(rf), half_up(sf)
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    # conditions lean on SQL precedence (comparison > NOT > AND):
    # parenthesized comparisons slow Spark's SQL parser down, most of all
    # on the first parse of this expression in a JVM
    fix_q = f"{dq} > {dr} AND {dq} > {ds}"
    fix_r = f"NOT ({fix_q}) AND {dr} > {ds}"
    q = f"CAST(CASE WHEN {fix_q} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)"
    r = f"CAST(CASE WHEN {fix_r} THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)"
    return r, q


def cell_id_sql(x: str, y: str, spec: GridSpec) -> str:
    """Packed tile id of the point (x, y); bit-identical to
    :func:`seraster_spark.grid.encode`."""
    if spec.square:
        row, col = square_rowcol_sql(x, y, spec)
        return pack_sql(0, spec.level, row, col)
    r, q = _hex_axial_sql(x, y, spec)
    return pack_sql(1, spec.level, r, q)


def unpack_sql(cell_id: str) -> tuple[str, str]:
    row = f"((shiftrightunsigned({cell_id}, {_AXIS_BITS}) & {_MASK}) - {_OFF})"
    col = f"(({_arg(cell_id)} & {_MASK}) - {_OFF})"
    return row, col


def centroid_sql(cell_id: str, spec: GridSpec) -> tuple[str, str]:
    row, col = unpack_sql(cell_id)
    rd, cd = f"CAST({row} AS DOUBLE)", f"CAST({col} AS DOUBLE)"
    if spec.square:
        res = _d(spec.resolution)
        cx = f"({_d(spec.xmin)} + (({cd} + {_d(0.5)}) * {res}))"
        cy = f"({_d(spec.ymin)} + (({rd} + {_d(0.5)}) * {res}))"
    else:
        s = spec.resolution / SQRT3
        cx = f"({_d(spec.xmin)} + ({_d(s * SQRT3)} * ({cd} + ({rd} / {_d(2.0)}))))"
        cy = f"({_d(spec.ymin)} + ({_d(s * 1.5)} * {rd}))"
    return cx, cy


def grid_index_sql(cell_id: str, spec: GridSpec) -> str:
    """Deterministic dense ordering key: row-major over (row, col) for squares
    (matches the reference's grid-order pixel numbering, R/main.R:139,175);
    (r, q)-lexicographic for hexes."""
    row, col = unpack_sql(cell_id)
    if spec.square:
        return f"(({row} * {spec.ncols}) + {col})"
    return f"((({row} + {_OFF}) * {1 << _AXIS_BITS}) + ({col} + {_OFF}))"


def morton_sql(row: str, col: str, bits: int = 28) -> str:
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
    r, c = f"CAST({row} AS BIGINT)", f"CAST({col} AS BIGINT)"
    out = "CAST(0 AS BIGINT)"
    for i in range(bits):
        out = (
            f"(({out} | shiftleft((shiftrightunsigned({c}, {i}) & 1), {2 * i}))"
            f" | shiftleft((shiftrightunsigned({r}, {i}) & 1), {2 * i + 1}))"
        )
    return out


def unpack_rowcol(cell_id: str | Column = "cell_id") -> tuple[Column, Column]:
    """(row, col) Columns of a packed id column, for Column-API callers.

    ``cell_id`` is a column name, or a plain ``F.col(name)`` reference
    (whose name is read back from the JVM); any other Column is refused,
    since only a name has an exact SQL spelling."""
    if isinstance(cell_id, Column):
        node = cell_id._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            raise TypeError("unpack_rowcol takes a column name or F.col(name)")
        parts = node.nameParts()
        cid = ".".join(quote(parts.apply(i)) for i in range(parts.size()))
    else:
        cid = ident(cell_id)
    row, col = unpack_sql(cid)
    return F.expr(row), F.expr(col)
