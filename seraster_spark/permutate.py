"""Rotation permutation — reference ``permutateByRotation``
(``R/main.R:616-707``), re-expressed as a Column-math fan-out.

* Angle schedule: ``k * 360 / n_perm`` for k = 0..n_perm-1 (``R/main.R:618``)
  — never duplicated (test-main.R:94-97).
* Rotation origin = the **midrange** point ((min+max)/2 per axis) of the
  combined coordinates (``R/main.R:637,686``, via rearrr::midrange) — one
  global aggregate, shared by all permutations.
* Counterclockwise 2-D rotation around the origin (rearrr::rotate_2d,
  ``R/main.R:652``).
* All payload columns (spans, values, kind, …) pass through untouched
  (``R/main.R:659-663``) — this is exactly the span-sequence invariant.

The fan-out is ``explode`` over a literal angle array — n_perm copies in one
narrow map stage, no UDF, no shuffle. The rotation math is SQL text in one
projection after the explode (see :mod:`seraster_spark.expressions` for why
text). Feeding the result into rasterize_* with ``group_cols=["perm"]``
reproduces the reference's list path on one common grid
(``R/main.R:294-308``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from . import expressions as X


def angle_schedule(n_perm: int) -> list[float]:
    """0, 360/n, 2*360/n, ... (R/main.R:618)."""
    if n_perm < 1:
        raise ValueError("n_perm must be >= 1")
    return [k * 360.0 / n_perm for k in range(n_perm)]


def midrange_origin(df: DataFrame, x_col: str = "x", y_col: str = "y") -> tuple[float, float]:
    """((min(x)+max(x))/2, (min(y)+max(y))/2) — rearrr::midrange
    (R/main.R:637,686)."""
    row = df.agg(
        ((F.min(x_col) + F.max(x_col)) / 2.0).alias("ox"),
        ((F.min(y_col) + F.max(y_col)) / 2.0).alias("oy"),
    ).collect()[0]
    return float(row["ox"]), float(row["oy"])


def permutate_by_rotation(
    df: DataFrame,
    n_perm: int = 1,
    x_col: str = "x",
    y_col: str = "y",
    origin: tuple[float, float] | None = None,
) -> DataFrame:
    """Fan out n_perm rotated copies; adds ``perm`` (name, "rotated_{angle}",
    R/main.R:702) and ``angle`` columns; replaces x/y with rotated coords.

    x' = (x-ox)·cos θ − (y-oy)·sin θ + ox
    y' = (x-ox)·sin θ + (y-oy)·cos θ + oy   (θ in radians, CCW)
    """
    cols = df.columns
    if x_col not in cols or y_col not in cols:
        raise ValueError(f"expected coordinate columns '{x_col}','{y_col}' (R/main.R:648,682)")

    ox, oy = origin or midrange_origin(df, x_col, y_col)
    # cos/sin precomputed per ANGLE and exploded as struct literals: after
    # the explode `angle` is data, so cos/sin would run per ROW (4 trig
    # calls × every fanned row). math.radians/cos/sin are the same
    # double-precision arithmetic (libm) the numpy replay and the DuckDB
    # twin use — the parity/oracle gates pin the values bit-for-bit.
    rots = ", ".join(
        f"named_struct('a', {a!r}D, 'c', {math.cos(math.radians(a))!r}D, "
        f"'s', {math.sin(math.radians(a))!r}D)"
        for a in angle_schedule(n_perm)
    )
    fanned = df.withColumn("_rot", F.expr(f"explode(array({rots}))"))
    o_x, o_y = f"{float(ox)!r}D", f"{float(oy)!r}D"
    dx = f"({X.ident(x_col)} - {o_x})"
    dy = f"({X.ident(y_col)} - {o_y})"
    a = "`_rot`.`a`"
    # one projection, and both rotated coords read the ORIGINAL x/y; a
    # clashing input column is replaced in place, as withColumn would
    out = {c: X.quote(c) for c in cols}
    out[x_col] = f"{dx} * `_rot`.`c` - {dy} * `_rot`.`s` + {o_x}"
    out[y_col] = f"{dx} * `_rot`.`s` + {dy} * `_rot`.`c` + {o_y}"
    out["angle"] = a
    out["perm"] = (
        f"format_string('rotated_%s', CASE WHEN {a} = CAST(FLOOR({a}) AS DOUBLE)"
        f" THEN CAST(CAST({a} AS BIGINT) AS STRING) ELSE CAST({a} AS STRING) END)"
    )
    return fanned.selectExpr(*[f"{v} AS {X.quote(k)}" for k, v in out.items()])
