"""Line-segment (trajectory) rasterization: apportion each segment to the
square tiles it crosses, weighted by the *fraction of the segment's length*
inside each tile.

Reference parity: SEraster rasterizes points only (``R/main.R:118-139``
bins ``spatialCoords`` — a point matrix); this operator extends the same
closed-form grid to 1-D geometries, the ``terra::rasterizeGeom(lines)``
analog a trajectory workload needs (GPS tracks, ship lanes, migration
paths at 100 TB: "which tiles does each trip cross, with what share").

Spark-first design — **zero joins, one shuffle**:

* Candidate tiles come from a two-stage *supercover*: first the column
  strips the segment's x-extent touches, then — per strip — only the rows
  its y-extent *within that strip* touches (±1 safety row for float
  rounding at boundaries). Fan-out is O(ncols + nrows + crossings) per
  segment, NOT O(bbox area); a diagonal crossing a 1000×1000-tile extent
  generates ~2000 candidates, not 10^6.
* The in-tile fraction is a closed-form Liang–Barsky clip. Two impls,
  bitwise-identical per (segment, tile): ``impl="arrow"`` (default) does
  the whole clip as one vectorized numpy pass per Arrow batch — only slim
  rows cross the Python boundary, no per-candidate JVM row copy (the
  measured scale path; the Column path's two Generates copy the full row
  once per candidate). ``impl="column"`` expresses the identical
  arithmetic as pure Columns (``explode(sequence(...))`` +
  ``least``/``greatest``/guarded division) — zero Python, and the
  expression trees the SQL oracle replays term-for-term.
* Either way the pipeline ends in ONE hash-aggregate shuffle on slim
  ``(cell_id, frac, value)`` rows with map-side partial combine — the
  same 100 TB shape as point binning.
* Hot tiles are benign: partial aggregation bounds any single reducer's
  input by the number of map partitions, exactly like the count rasters.
* The explode multiplies rows ~10-50×: if the upstream stage has few
  partitions (e.g. an AQE-coalesced window over a low-cardinality key),
  ``repartition()`` the slim segment frame FIRST or the fan-out runs on
  those few cores (measured 2.4× on the bench trajectory query).

Conventions (consistent with :mod:`seraster_spark.grid`):

* A segment's fraction in a tile is the Lebesgue measure of its parameter
  interval ``t ∈ [0, 1]`` inside the tile — off-grid portions count
  toward no tile, so in-grid segments satisfy ``Σ_tiles frac == 1``.
* Boundary tie-break follows the point rule (``R/main.R:134-135``, lower
  cell) wherever the measure itself is ambiguous: an axis-parallel
  segment lying exactly ON an interior gridline, and a degenerate
  (point) segment on a tile corner, are assigned via the SAME
  ``square_rowcol_sql`` tie-break the point encoder uses. For
  non-degenerate crossings the measure is unambiguous (the boundary
  overlap has measure zero) and no tie-break is needed.
* ``quantize_bits=b`` rounds each per-(segment, tile) fraction to the
  dyadic grid ``2^-b`` (``floor(frac·2^b + 0.5)/2^b``) *before*
  aggregation. With b ≤ 20 and integer value columns the summed terms
  are exact in float64, so aggregate results are independent of
  partitioning/summation order — the bit-determinism contract of
  ``rasterize_gene_expression_deterministic`` (SURVEY §4.3.4), reached
  by exact terms instead of that function's fixed-order fold, and what
  lets a SQL twin reproduce the aggregate bit-for-bit. Default ``None``
  keeps full double precision (last-ulp order sensitivity, like any
  float sum).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .expressions import ident, pack_sql, square_rowcol_sql
from .grid import GridSpec, pack, square_rowcol


def _quantized(frac: Column, quantize_bits: int | None) -> Column:
    if quantize_bits is None:
        return frac
    scale = F.lit(float(1 << quantize_bits))
    return F.floor(frac * scale + F.lit(0.5)) / scale


def _capped(span: Column, bound: Column, cap: int, what: str) -> Column:
    """Loud runtime guard (never silent truncation): raise if one segment's
    candidate span along ONE axis (column strips, or rows within a strip)
    exceeds ``cap``. Note the bound is per-axis, not per-segment-total: a
    long diagonal passes with colspan ≤ cap and ~3 rows per strip, so total
    exploded candidates can reach a small multiple of ``cap`` (≈ colspan·3
    for diagonals, colspan·rowspan only for near-degenerate steep strips,
    which the row check catches)."""
    return F.when(
        span <= F.lit(cap), bound
    ).otherwise(
        F.raise_error(
            f"segment {what} span exceeds max_tiles_per_seg={cap}; "
            "coarsen the grid or split the segment"
        ).cast("long")
    )


def _arrow_fractions(
    segs: DataFrame,
    spec: GridSpec,
    max_tiles_per_seg: int,
    quantize_bits: int | None,
    x0: str,
    y0: str,
    x1: str,
    y1: str,
) -> DataFrame:
    """Arrow fast path: the same supercover + Liang-Barsky clip as the
    Column path, as one vectorized numpy pass per Arrow batch. Every step
    is a single correctly-rounded IEEE-754 op replaying the Column path's
    expression tree (same parenthesization, same min/max/floor order), so
    the two impls agree BITWISE per (segment, tile) — the parity pytest
    asserts exact equality. Emits only the input columns + (cell_id, frac)
    with no per-candidate JVM row materialization, which is what makes it
    the 100 TB path (the Column path's Generate copies the full row once
    per candidate tile)."""
    out_schema = StructType(
        list(segs.schema.fields)
        + [StructField("cell_id", LongType()), StructField("frac", DoubleType())]
    )
    qscale = float(1 << quantize_bits) if quantize_bits is not None else None

    def kernel(batches):
        for pdf in batches:
            clipped = _clip_batch(
                pdf, spec, max_tiles_per_seg, qscale, x0, y0, x1, y1
            )
            if clipped is None:
                continue
            orig_ix, cell, frac = clipped
            out = pdf.iloc[orig_ix].reset_index(drop=True)
            out["cell_id"] = cell
            out["frac"] = frac
            yield out[[f.name for f in out_schema.fields]]

    return segs.mapInPandas(kernel, out_schema)


def _clip_batch(pdf, spec, cap, qscale, x0, y0, x1, y1):
    """Vectorized supercover + Liang-Barsky clip of one pandas batch.
    Returns ``(orig_row_ix, cell_id, frac)`` arrays (frac > 0 rows only)
    or None when the batch yields nothing. Shared by the passthrough
    fractions kernel and the fused partial-aggregation kernel."""
    if len(pdf) == 0:
        return None
    xmin, ymin, res = spec.xmin, spec.ymin, spec.resolution
    ncols, nrows, level = spec.ncols, spec.nrows, spec.level
    ax0 = pdf[x0].to_numpy(np.float64)
    ay0 = pdf[y0].to_numpy(np.float64)
    ax1 = pdf[x1].to_numpy(np.float64)
    ay1 = pdf[y1].to_numpy(np.float64)
    finite = (
        np.isfinite(ax0) & np.isfinite(ay0) & np.isfinite(ax1) & np.isfinite(ay1)
    )
    row_ix = np.nonzero(finite)[0]
    if len(row_ix) == 0:
        return None
    ax0, ay0, ax1, ay1 = (a[row_ix] for a in (ax0, ay0, ax1, ay1))
    sdx = ax1 - ax0
    sdy = ay1 - ay0
    tie_r, tie_c = square_rowcol(ax0, ay0, spec)
    degx = sdx == 0.0
    degy = sdy == 0.0
    c_lo = np.where(
        degx, tie_c, np.floor((np.minimum(ax0, ax1) - xmin) / res)
    ).astype(np.int64)
    c_hi = np.where(
        degx, tie_c, np.floor((np.maximum(ax0, ax1) - xmin) / res)
    ).astype(np.int64)
    np.maximum(c_lo, 0, out=c_lo)
    np.minimum(c_hi, ncols - 1, out=c_hi)
    ok = c_lo <= c_hi
    if not ok.any():
        return None
    span = (c_hi - c_lo + 1)[ok]
    if (span > cap).any():
        raise ValueError(
            f"segment column span exceeds max_tiles_per_seg={cap}; "
            "coarsen the grid or split the segment"
        )
    keep = np.nonzero(ok)[0]
    n1 = int(span.sum())
    six = np.repeat(keep, span)  # index into the finite-row arrays
    starts = np.cumsum(span) - span
    ci = (
        np.arange(n1, dtype=np.int64)
        - np.repeat(starts, span)
        + np.repeat(c_lo[keep], span)
    )
    x0s, y0s, sdxs, sdys = ax0[six], ay0[six], sdx[six], sdy[six]
    lo_x = xmin + ci.astype(np.float64) * res
    hi_x = lo_x + res
    with np.errstate(divide="ignore", invalid="ignore"):
        ta = (lo_x - x0s) / sdxs
        tb = (hi_x - x0s) / sdxs
        degxs = degx[six]
        tx_en = np.where(degxs, 0.0, np.minimum(ta, tb))
        tx_ex = np.where(degxs, 1.0, np.maximum(ta, tb))
    u0 = np.maximum(tx_en, 0.0)
    u1 = np.minimum(tx_ex, 1.0)
    ok2 = u0 <= u1
    if not ok2.any():
        return None
    six, ci, y0s, sdys, u0, u1 = (
        a[ok2] for a in (six, ci, y0s, sdys, u0, u1)
    )
    ya = y0s + u0 * sdys
    yb = y0s + u1 * sdys
    degys = degy[six]
    tie_rs = tie_r[six]
    r_lo = np.where(
        degys, tie_rs, np.floor((np.minimum(ya, yb) - ymin) / res) - 1
    ).astype(np.int64)
    r_hi = np.where(
        degys, tie_rs, np.floor((np.maximum(ya, yb) - ymin) / res) + 1
    ).astype(np.int64)
    np.maximum(r_lo, 0, out=r_lo)
    np.minimum(r_hi, nrows - 1, out=r_hi)
    ok3 = r_lo <= r_hi
    if not ok3.any():
        return None
    six, ci, y0s, sdys, u0, u1, r_lo, r_hi = (
        a[ok3] for a in (six, ci, y0s, sdys, u0, u1, r_lo, r_hi)
    )
    span2 = r_hi - r_lo + 1
    if (span2 > cap).any():
        raise ValueError(
            f"segment row span exceeds max_tiles_per_seg={cap}; "
            "coarsen the grid or split the segment"
        )
    n2 = int(span2.sum())
    starts2 = np.cumsum(span2) - span2
    strip_ix = np.repeat(np.arange(len(span2), dtype=np.int64), span2)
    ri = (
        np.arange(n2, dtype=np.int64)
        - np.repeat(starts2, span2)
        + np.repeat(r_lo, span2)
    )
    sixf = six[strip_ix]
    cif = ci[strip_ix]
    y0f, sdyf = y0s[strip_ix], sdys[strip_ix]
    u0f, u1f = u0[strip_ix], u1[strip_ix]
    lo_y = ymin + ri.astype(np.float64) * res
    hi_y = lo_y + res
    with np.errstate(divide="ignore", invalid="ignore"):
        tya = (lo_y - y0f) / sdyf
        tyb = (hi_y - y0f) / sdyf
        degyf = degy[sixf]
        ty_en = np.where(degyf, 0.0, np.minimum(tya, tyb))
        ty_ex = np.where(degyf, 1.0, np.maximum(tya, tyb))
    t0 = np.maximum(u0f, ty_en)
    t1 = np.minimum(u1f, ty_ex)
    frac_raw = t1 - t0
    sel = frac_raw > 0.0
    if qscale is not None:
        frac = np.floor(frac_raw * qscale + 0.5) / qscale
        sel &= frac > 0.0
    else:
        frac = frac_raw
    if not sel.any():
        return None
    sixf, cif, ri, frac = sixf[sel], cif[sel], ri[sel], frac[sel]
    cell = pack(0, level, ri, cif)
    return row_ix[sixf], cell, frac


def segment_tile_fractions(
    segs: DataFrame,
    spec: GridSpec,
    max_tiles_per_seg: int = 65536,
    quantize_bits: int | None = None,
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    impl: str = "arrow",
) -> DataFrame:
    """Per-(segment, tile) exploded fractions: the input columns plus
    ``cell_id`` and ``frac`` (> 0; with ``quantize_bits`` set, crossings
    smaller than half the dyadic step round to 0 and are dropped, so the
    contract holds at the quantized precision). This is the trajectory↔tile
    membership relation; :func:`rasterize_segments` is its groupBy.

    ``impl="arrow"`` (default) runs the clip as one vectorized numpy pass
    per Arrow batch — the scale path: only slim rows cross the Python
    boundary and no per-candidate JVM row copy happens. ``impl="column"``
    is the pure-Column/zero-Python variant whose expression trees the SQL
    oracle replays; the two agree bitwise per (segment, tile) (parity
    pytest), so the oracle contract holds for both. Rows with NULL or
    non-finite coordinates are dropped by both impls.

    ``max_tiles_per_seg`` bounds each axis's candidate span separately
    (see :func:`_capped`) — size executors for a worst-case fan-out of a
    few × the cap, not exactly the cap."""
    if not spec.square:
        raise ValueError("segment rasterization is defined for square grids")
    if impl not in ("arrow", "column"):
        raise ValueError(f"impl must be 'arrow' or 'column', got {impl!r}")
    if impl == "arrow":
        return _arrow_fractions(
            segs, spec, max_tiles_per_seg, quantize_bits, x0, y0, x1, y1
        )
    res = F.lit(float(spec.resolution))
    xmn = F.lit(float(spec.xmin))
    ymn = F.lit(float(spec.ymin))
    ncols, nrows = spec.ncols, spec.nrows

    px0, py0, px1, py1 = (F.col(c) for c in (x0, y0, x1, y1))
    # a NULL delta would otherwise satisfy NOT(sdx != 0) and silently turn
    # the row into an axis-degenerate segment via the otherwise(tie) branch;
    # NaN/Inf coords would flow into floor()/sequence() (ANSI raises, or
    # mis-buckets) — drop them like the arrow impl's np.isfinite does
    inf = F.lit(float("inf"))

    def _finite(c):
        return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != inf)

    segs = segs.filter(
        _finite(px0) & _finite(py0) & _finite(px1) & _finite(py1)
    )
    sdx = px1 - px0
    sdy = py1 - py0
    # point-rule tie-break cells for the axis-degenerate branches
    tie_row, tie_col = (
        F.expr(e) for e in square_rowcol_sql(ident(x0), ident(y0), spec)
    )

    bxmin = F.least(px0, px1)
    bxmax = F.greatest(px0, px1)
    c_lo_raw = F.when(sdx != 0, F.floor((bxmin - xmn) / res)).otherwise(tie_col)
    c_hi_raw = F.when(sdx != 0, F.floor((bxmax - xmn) / res)).otherwise(tie_col)
    c_lo = F.greatest(c_lo_raw, F.lit(0).cast("long"))
    c_hi = F.least(c_hi_raw, F.lit(ncols - 1).cast("long"))

    d = (
        segs.withColumn("_c_lo", c_lo)
        .withColumn("_c_hi", c_hi)
        .filter(F.col("_c_lo") <= F.col("_c_hi"))  # sequence() steps -1 on inverted bounds
        .withColumn(
            "_ci",
            F.explode(
                F.sequence(
                    F.col("_c_lo"),
                    _capped(
                        F.col("_c_hi") - F.col("_c_lo") + F.lit(1),
                        F.col("_c_hi"),
                        max_tiles_per_seg,
                        "column",
                    ),
                )
            ),
        )
    )

    lo_x = xmn + F.col("_ci").cast("double") * res
    hi_x = lo_x + res
    # x-axis clip of the parameter interval (try_divide: the sdx==0 branch
    # never consumes it, but ANSI mode must not raise while evaluating)
    ta = F.try_divide(lo_x - px0, sdx)
    tb = F.try_divide(hi_x - px0, sdx)
    tx_en = F.when(sdx != 0, F.least(ta, tb)).otherwise(F.lit(0.0))
    tx_ex = F.when(sdx != 0, F.greatest(ta, tb)).otherwise(F.lit(1.0))
    u0 = F.greatest(tx_en, F.lit(0.0))
    u1 = F.least(tx_ex, F.lit(1.0))
    d = d.withColumn("_u0", u0).withColumn("_u1", u1)
    # rows this strip can touch: y-extent of the segment WITHIN the strip,
    # widened ±1 against float rounding at row boundaries (over-generation
    # is filtered by frac > 0; under-generation would be a correctness bug).
    # NB build ya/yb from the MATERIALIZED _u0/_u1 columns, not the u0/u1
    # expression trees: inlining the clip trees 4x into r_lo/r_hi blew the
    # generated code past the JVM's 8 KB JIT limit, leaving the whole stage
    # running as interpreted bytecode (measured ~4x slower end to end);
    # same arithmetic, so per-(segment, tile) results are bit-identical
    ya = py0 + F.col("_u0") * sdy
    yb = py0 + F.col("_u1") * sdy
    r_lo_raw = F.when(
        sdy != 0, F.floor((F.least(ya, yb) - ymn) / res) - F.lit(1)
    ).otherwise(tie_row)
    r_hi_raw = F.when(
        sdy != 0, F.floor((F.greatest(ya, yb) - ymn) / res) + F.lit(1)
    ).otherwise(tie_row)

    d = (
        d.filter(F.col("_u0") <= F.col("_u1"))
        .withColumn("_r_lo", F.greatest(r_lo_raw, F.lit(0).cast("long")))
        .withColumn("_r_hi", F.least(r_hi_raw, F.lit(nrows - 1).cast("long")))
        .filter(F.col("_r_lo") <= F.col("_r_hi"))
        .withColumn(
            "_ri",
            F.explode(
                F.sequence(
                    F.col("_r_lo"),
                    _capped(
                        F.col("_r_hi") - F.col("_r_lo") + F.lit(1),
                        F.col("_r_hi"),
                        max_tiles_per_seg,
                        "row",
                    ),
                )
            ),
        )
    )

    lo_y = ymn + F.col("_ri").cast("double") * res
    hi_y = lo_y + res
    tya = F.try_divide(lo_y - py0, sdy)
    tyb = F.try_divide(hi_y - py0, sdy)
    ty_en = F.when(sdy != 0, F.least(tya, tyb)).otherwise(F.lit(0.0))
    ty_ex = F.when(sdy != 0, F.greatest(tya, tyb)).otherwise(F.lit(1.0))
    t0 = F.greatest(F.col("_u0"), ty_en)
    t1 = F.least(F.col("_u1"), ty_ex)

    out = (
        d.withColumn("_frac_raw", t1 - t0)
        .filter(F.col("_frac_raw") > 0.0)
        .withColumn("frac", _quantized(F.col("_frac_raw"), quantize_bits))
        # sub-quantum crossings round to 0 — drop them so frac > 0 holds
        .filter(F.col("frac") > 0.0)
        .withColumn("cell_id", F.expr(pack_sql(0, spec.level, "`_ri`", "`_ci`")))
    )
    return out.drop("_c_lo", "_c_hi", "_u0", "_u1", "_r_lo", "_r_hi", "_frac_raw")


def rasterize_segments(
    segs: DataFrame,
    spec: GridSpec,
    value_cols: tuple[str, ...] = (),
    length_weighted: bool = False,
    max_tiles_per_seg: int = 65536,
    quantize_bits: int | None = None,
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    impl: str = "arrow",
) -> DataFrame:
    """Segment-coverage raster: per tile, ``n_segs`` (segments with positive
    in-tile measure), ``frac_sum`` (Σ in-tile fractions — the unit-normalized
    line density), one ``w_<c>`` = Σ frac·c per value column, and — with
    ``length_weighted=True`` — ``len_sum`` = Σ frac·‖segment‖ (true crossing
    length; involves one sqrt per row, so it is float-deterministic but not
    dyadic-exact and is excluded from the bit-exact oracle contract).

    ``impl="arrow"`` (default) FUSES the map-side combine into the numpy
    kernel: each Arrow batch emits per-cell partial aggregates (np.bincount
    over the batch's candidates), so only O(distinct cells) rows ever cross
    the Python boundary or the shuffle — the candidate fan-out never
    materializes as rows anywhere. With ``quantize_bits`` set the partial
    sums are exact dyadics, so the result is bit-identical to the Column
    path; unquantized float sums differ from any other grouping order only
    in the last ulp (as all float aggregation does). ``impl="column"`` is
    the zero-Python variant (explode + one hash-agg shuffle)."""
    if impl == "arrow":
        qscale = float(1 << quantize_bits) if quantize_bits is not None else None
        fields = [
            StructField("cell_id", LongType()),
            StructField("n_segs", LongType()),
            StructField("frac_sum", DoubleType()),
        ]
        fields += [StructField(f"w_{c}", DoubleType()) for c in value_cols]
        if length_weighted:
            fields.append(StructField("len_sum", DoubleType()))
        partial_schema = StructType(fields)

        def kernel(batches):
            for pdf in batches:
                clipped = _clip_batch(
                    pdf, spec, max_tiles_per_seg, qscale, x0, y0, x1, y1
                )
                if clipped is None:
                    continue
                orig_ix, cell, frac = clipped
                cells, inv = np.unique(cell, return_inverse=True)
                ncell = len(cells)
                data = {
                    "cell_id": cells,
                    "n_segs": np.bincount(inv, minlength=ncell).astype(np.int64),
                    "frac_sum": np.bincount(inv, weights=frac, minlength=ncell),
                }
                for c in value_cols:
                    v = pdf[c].to_numpy(np.float64)[orig_ix]
                    # NULL values contribute nothing to the weighted sum
                    # (Column-path F.sum skips NULL products); a cell whose
                    # contributions are ALL NULL emits a NULL partial so the
                    # final F.sum yields NULL exactly like the Column path
                    # (and the SQL twin's sum(frac*val)) — not 0.0
                    good = np.isfinite(v)
                    wsum = np.bincount(
                        inv, weights=frac * np.where(good, v, 0.0), minlength=ncell
                    )
                    col = pd.array(wsum, dtype="Float64")
                    nn = np.bincount(inv, weights=good, minlength=ncell)
                    col[nn == 0.0] = pd.NA
                    data[f"w_{c}"] = col
                if length_weighted:
                    dx = (
                        pdf[x1].to_numpy(np.float64)[orig_ix]
                        - pdf[x0].to_numpy(np.float64)[orig_ix]
                    )
                    dy = (
                        pdf[y1].to_numpy(np.float64)[orig_ix]
                        - pdf[y0].to_numpy(np.float64)[orig_ix]
                    )
                    data["len_sum"] = np.bincount(
                        inv, weights=frac * np.sqrt(dx * dx + dy * dy),
                        minlength=ncell,
                    )
                yield pd.DataFrame(data)

        partials = segs.mapInPandas(kernel, partial_schema)
        aggs = [
            F.sum("n_segs").alias("n_segs"),
            F.sum("frac_sum").alias("frac_sum"),
        ]
        aggs += [F.sum(f"w_{c}").alias(f"w_{c}") for c in value_cols]
        if length_weighted:
            aggs.append(F.sum("len_sum").alias("len_sum"))
        return partials.groupBy("cell_id").agg(*aggs)

    ft = segment_tile_fractions(
        segs,
        spec,
        max_tiles_per_seg=max_tiles_per_seg,
        quantize_bits=quantize_bits,
        x0=x0,
        y0=y0,
        x1=x1,
        y1=y1,
        impl=impl,
    )
    aggs = [
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("frac").alias("frac_sum"),
    ]
    for c in value_cols:
        aggs.append(F.sum(F.col("frac") * F.col(c)).alias(f"w_{c}"))
    if length_weighted:
        seg_len = F.sqrt(
            (F.col(x1) - F.col(x0)) * (F.col(x1) - F.col(x0))
            + (F.col(y1) - F.col(y0)) * (F.col(y1) - F.col(y0))
        )
        aggs.append(F.sum(F.col("frac") * seg_len).alias("len_sum"))
    return ft.groupBy("cell_id").agg(*aggs)
